package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.core.{Jobs, Lineage, OpCache}
import graft.operators.Dedup.CorpusIndex

/** Structured Streaming operators over the event stream (greenfield —
  * the reference is batch-only, §2.10; this is the streaming face of
  * the same engine, sharing the batch operators' semantics).
  *
  * Input contract = the `events` table schema: (event_id, ts, user_id,
  * event_type, value, props). Batch/stream parity: `q20_events_hourly`
  * and `q22_sessionize` in the registry are the batch twins of
  * [[hourlyCounts]] and [[sessionize]], oracle-checked there.
  *
  * Every feed that drains its input (all but [[upsertStream]], whose
  * started query the caller owns) runs on one micro-batch driver,
  * [[drain]]:
  *
  *  - '''Order.''' The stream runs with the AvailableNow trigger in
  *    Append mode; the feed's step sees each micro-batch in order,
  *    with the state the previous batch returned.
  *  - '''Per-batch release.''' Each batch runs inside
  *    [[graft.core.OpCache.collectScoped]], so the driver knows every
  *    frame the feed persisted, including inside the operators it
  *    calls. After the step it releases each of them — made in this
  *    batch or an earlier one — that the new state no longer reads;
  *    the step names the frames its state reads. A long-running stream
  *    holds its state, never one cached frame per batch.
  *  - '''End-of-stream release.''' When the stream drains, every frame
  *    the feed persisted is released except those its result reads
  *    (`componentMaintenance`'s labels; nothing for a feed that returns
  *    `Unit`).
  *  - '''Caller frames stay.''' Frames the caller passed in (bootstrap
  *    labels, stored indexes, models) are never released.
  *  - '''Deadline.''' The driver blocks through [[awaitDrained]]: a
  *    stream that misses its deadline is stopped and throws, and a
  *    step that throws fails the feed; either way every frame the feed
  *    persisted is released and no partial state is returned.
  */
object EventStreams {

  /** Block until a started query terminates. A query still running after
    * `timeoutMs` is stopped and throws: its partial state is never
    * handed back as the result. */
  def awaitDrained(q: StreamingQuery, timeoutMs: Long = 180000): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"stream ${Option(q.name).getOrElse(q.id.toString)} did not finish " +
          s"within $timeoutMs ms and was stopped")
    }

  /** The micro-batch driver (see the object doc): runs `input` to
    * completion as `queryName`, folding `step` over its micro-batches
    * from `init`, and returns the final state.
    *
    * @param reads  the frames a state reads: of the frames the feed
    *               persisted, these stay cached and the rest are released
    * @param finish runs once the stream has drained and names the
    *               frames the feed's result reads; those stay cached
    */
  private[streaming] def drain[S](
      input: DataFrame,
      queryName: String,
      init: S,
      reads: S => Seq[DataFrame] = (_: S) => Nil,
      finish: S => Seq[DataFrame] = (_: S) => Nil)(
      step: (DataFrame, S) => S): S = {
    var state = init
    var owned = Seq.empty[DataFrame]
    def release(keep: Seq[DataFrame]): Unit = {
      val (kept, gone) = owned.partition(f => keep.exists(_ eq f))
      gone.foreach { f => f.unpersist(false); OpCache.untrack(f) }
      owned = kept
    }
    var kept: Seq[DataFrame] = Nil
    try {
      val q = input.writeStream
        .queryName(queryName)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          // a step that throws (an interrupt from a stop included)
          // still hands over the frames it persisted
          val (next, made) = OpCache.collectScoped(
            try Right(step(batch.toDF(), state))
            catch { case t: Throwable => Left(t) })
          owned ++= made
          state = next match { case Right(s) => s; case Left(t) => throw t }
          release(reads(state))
        }
        .start()
      awaitDrained(q)
      kept = finish(state)
    } finally release(kept)
    state
  }

  /** Watermarked tumbling-window aggregation (`readStream` →
    * `groupBy(window(...))` → `writeStream`): late data beyond the
    * watermark is dropped, state is bounded. The measure sum goes
    * through DECIMAL so the result is identical whatever the batch
    * arrival order — the same determinism contract as the batch ops. */
  def hourlyCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("total_value"))
      .select(col("win.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming warehouse load: land a streaming aggregate in a JDBC
    * serving table via foreachBatch + the staged-MERGE upsert. Update
    * mode re-emits a window's row whenever late data revises it; the
    * upsert makes that idempotent — the table always holds the latest
    * value per key, which is the streaming face of the reference's
    * batch load (K5). Returns the started query; callers own its
    * lifecycle. */
  def upsertStream(
      agg: DataFrame, jdbcUrl: String, table: String, pk: Seq[String],
      queryName: String = "graft_upsert_stream")
      : StreamingQuery =
    agg.writeStream
      .outputMode(OutputMode.Update())
      .queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.warehouse.JdbcUpsert.writeViaStage(
          batch.toDF(), jdbcUrl, table, pk)
      }
      .start()

  /** `index` grown by the per-batch `deltas`: a lazy union over cached
    * children, so a probe re-derives nothing and nothing corpus-sized
    * is copied per batch. The union deepens one level per batch — fine
    * for a drained stream; a 24/7 service would append the deltas to
    * the stored index ([[graft.operators.Dedup.writeCorpusIndex]]). */
  private def grown(index: CorpusIndex, deltas: Seq[CorpusIndex]): CorpusIndex =
    deltas.foldLeft(index)((a, d) => CorpusIndex(
      a.hashes.unionByName(d.hashes),
      a.shingles.unionByName(d.shingles),
      a.bands.unionByName(d.bands)))

  private def indexFrames(ixs: Seq[CorpusIndex]): Seq[DataFrame] =
    ixs.flatMap(ix => Seq(ix.hashes, ix.shingles, ix.bands))

  /** Streaming corpus-ingest dedup — the daily-ingest lifecycle
    * ([[graft.operators.Dedup.incrementalDedupWithIndex]]) run as a
    * stream: every microbatch of documents probes the resident corpus
    * index (exact-hash anti-join + LSH band probe, O(batch) per
    * batch), admitted ids append to `outDir`, and the admitted
    * documents FOLD BACK into the index before the next batch — a doc
    * admitted in batch N is a known duplicate in batch N+1, so
    * at-least-once upstream delivery admits each document exactly
    * once. Read `outDir` for the admitted set. */
  def ingestDedup(
      docs: DataFrame,
      index: CorpusIndex,
      idCol: String,
      textCol: String,
      outDir: String,
      queryName: String = "graft_ingest_dedup"): Unit = {
    type S = (Vector[CorpusIndex], Seq[DataFrame])
    drain(docs, queryName, (Vector.empty[CorpusIndex], Nil): S,
        (s: S) => indexFrames(s._1) ++ s._2) { case (batch, (deltas, _)) =>
      val b = OpCache.persist(batch)
      // cut: the delta reads `admitted`, whose plan holds every earlier
      // delta, so un-cut the index plan would grow geometrically per batch
      val admitted = OpCache.persist(Lineage.cut(
        graft.operators.Dedup.incrementalDedupWithIndex(
          grown(index, deltas), b, idCol, textCol)))
      admitted.write.mode("append").parquet(outDir)
      val d = graft.operators.Dedup.buildCorpusIndex(
        b.join(admitted.select(col("keep_id").as(idCol)), Seq(idCol), "left_semi"),
        idCol, textCol)
      // the delta fills when the next batch's probe first reads it, so
      // the state keeps the frames it is built from until then
      (deltas :+ CorpusIndex(OpCache.persist(d.hashes),
        OpCache.persist(d.shingles), OpCache.persist(d.bands)),
        Seq(b, admitted))
    }
  }

  /** Streaming cluster-label maintenance — [[ingestDedup]]'s sibling
    * for the CLUSTERING state: each micro-batch discovers its incident
    * near-dup edges against the stored band index COLLAPSE-FIRST
    * ([[graft.operators.Dedup.batchNearDupStarEdges]] — batch exact
    * duplicates fold to reps before shingling; connectivity, and
    * therefore every label, is identical to the raw pair contract
    * while a duplicate-heavy batch costs linear, not quadratic,
    * edges), folds them into
    * the stored labels via
    * [[graft.operators.Dedup.incrementalComponents]] (touched
    * components re-solved on star subgraphs, untouched labels pass
    * through), then grows the index so later batches pair against
    * earlier ones. Because components only MERGE under edge addition
    * and the maintenance is idempotent (untouched-label precedence),
    * the final labels are independent of batch boundaries AND of
    * at-least-once re-delivery — the registry query feeds the batch
    * twice and still must equal the single-shot full closure.
    *
    * Returns the final label frame (node, component). Per-batch label
    * lineage is cut (Lineage.cut) so a long-running stream's plan
    * stays O(1) deep — the same discipline as the CC rounds. */
  def componentMaintenance(
      docs: DataFrame,
      index: CorpusIndex,
      labels0: DataFrame,
      idCol: String,
      textCol: String,
      queryName: String = "graft_stream_components"): DataFrame = {
    type S = (DataFrame, Vector[CorpusIndex])
    val spark = docs.sparkSession
    drain(docs, queryName, (labels0, Vector.empty[CorpusIndex]),
        reads = (s: S) => s._1 +: indexFrames(s._2),
        finish = (s: S) => Seq(s._1)) { case (batch, (labels, deltas)) =>
      val b = OpCache.persist(batch)
      val edges = graft.operators.Dedup.batchNearDupStarEdges(
        grown(index, deltas), b, idCol, textCol)
      val next = graft.operators.Dedup.incrementalComponents(
        labels, edges, b.select(col(idCol).as("node")))
      val cut = Jobs.described(spark, "scc: labels cut") {
        OpCache.persist(Lineage.cut(next))
      }
      val ix = graft.operators.Dedup.buildCorpusIndex(b, idCol, textCol)
      val delta = CorpusIndex(OpCache.persist(ix.hashes),
        OpCache.persist(ix.shingles), OpCache.persist(ix.bands))
      // one action fills the labels and the delta: a union of per-frame
      // probe projections scans every cached partition in one wide stage
      Jobs.described(spark, "scc: materialize") {
        (cut +: indexFrames(Seq(delta))).map(_.select(lit(1L).as("one")))
          .reduce(_ union _).count()
      }
      (cut, deltas :+ delta)
    }._1
  }

  /** Streaming ANN serving — the query-side loop of a similarity
    * service: the corpus artifacts (a STORED
    * [[graft.operators.Similarity.SqIndex]] — calibration + int8
    * codes) load once, and each micro-batch of query vectors probes
    * them via [[graft.operators.Similarity.scalarQuantTopKWithIndex]],
    * appending its top-k rows to `outDir`. Stateless per query — no
    * cross-batch streaming state at all, so batch boundaries cannot
    * change any query's result (asserted by the registry query, which
    * splits the query set across two micro-batches and compares
    * against the single-batch oracle). At-least-once upstream delivery re-emits
    * identical rows for a re-delivered query; a sink keyed on
    * (vec_id, rnk) absorbs them. */
  def annServe(
      queries: DataFrame,
      index: graft.operators.Similarity.SqIndex,
      idCol: String,
      vecCol: String,
      k: Int,
      outDir: String,
      queryName: String = "graft_ann_serve"): Unit =
    drain(queries, queryName, ()) { (batch, _) =>
      graft.operators.Similarity
        .scalarQuantTopKWithIndex(index, batch, idCol, vecCol, k)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming DSIR scoring feed — the
    * [[graft.operators.Curation.importanceScore]] scorer run as a
    * live data-selection service: the (bucket, lam) model trains
    * offline (qt32's batch pass) and LOADS once; each micro-batch of
    * raw-pool documents is scored against it and appended to
    * `outDir`. No streaming state at all — a doc's score depends only
    * on its own text and the static model, so batch boundaries cannot
    * change any row and at-least-once re-delivery re-emits IDENTICAL
    * keyed (doc_id, score) rows — the consumer's distinct absorbs
    * them (the [[erasureFeed]] idempotence argument). One subtlety
    * the additive scorer adds over the erasure feed's join shape:
    * duplicates INSIDE a micro-batch would double a doc's bucket
    * counts (and so its score), so each batch dedups by id first —
    * documents are immutable content, any copy is equivalent; the
    * dedup is batch-local (no state), cross-batch copies fall to the
    * keyed-output distinct. This is the production shape for "score
    * the crawl as it lands": the model is a KB-sized broadcast,
    * scoring is embarrassingly parallel, and re-training is an
    * offline swap of the model table. */
  def dsirScoreFeed(
      docs: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      buckets: Int = 1024,
      queryName: String = "graft_dsir_feed"): Unit =
    drain(docs, queryName, ()) { (batch, _) =>
      graft.operators.Curation.importanceScore(
        batch.dropDuplicates(Seq(idCol)), idCol, textCol,
        model, buckets)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming quality-classifier scoring — [[graft.operators.Logit]]'s
    * trained model served LIVE: the model (B+1 weight rows + 1 bias
    * row, KB-sized) trains offline and loads once; documents arrive as
    * a stream and each micro-batch is scored statelessly
    * ([[graft.operators.Logit.score]] is one broadcast join + one
    * per-doc agg) and appended. Zero streaming state: a score depends
    * only on the doc's text and the frozen model, so re-delivery
    * re-emits IDENTICAL (doc_id, score, pred) rows and the consumer's
    * distinct absorbs them — the qst17 idempotence contract, with a
    * discriminatively-trained scorer instead of the DSIR ratio. */
  def logitScoreFeed(
      docs: DataFrame,
      model: graft.operators.Logit.LogitModel,
      idCol: String,
      textCol: String,
      outDir: String,
      buckets: Int = 1024,
      gain: Double = 8.0,
      queryName: String = "graft_logit_feed"): Unit =
    drain(docs, queryName, ()) { (batch, _) =>
      graft.operators.Logit.score(
        batch.dropDuplicates(Seq(idCol)), idCol, textCol,
        model, buckets, gain)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming duplicated-span rewrite — [[graft.operators.Overlap]]'s
    * span-dedup served LIVE: the duplicated-gram model (8-byte hashes,
    * corpus-counted) builds offline and loads once; documents arrive
    * as a stream and each micro-batch is rewritten statelessly
    * ([[graft.operators.Overlap.spanRewriteWithModel]] — a semi-join
    * against the model + the positional anti-join rebuild) and
    * appended. Zero streaming state: the rewrite depends only on the
    * doc's text and the frozen model, so re-delivery re-emits
    * IDENTICAL (doc_id, text, n_words, n_removed) rows, absorbed by
    * the consumer's distinct — the qst17/qst18 serve contract applied
    * to a REWRITE operator. */
  def spanRewriteFeed(
      docs: DataFrame,
      dupGrams: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      n: Int = 5,
      queryName: String = "graft_span_feed"): Unit =
    drain(docs, queryName, ()) { (batch, _) =>
      graft.operators.Overlap.spanRewriteWithModel(
        batch.dropDuplicates(Seq(idCol)), idCol, textCol, n,
        dupGrams)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming CAS chunk ingest — the content-addressed-storage
    * admission loop run LIVE ([[ingestDedup]]'s sibling at CHUNK
    * granularity): a stored distinct Gear-chunk-hash set loads once;
    * each micro-batch of media cuts its content-defined chunks
    * ([[graft.operators.Multimodal.gearChunkHashes]]), anti-joins the
    * store, and emits one row per media that contributes ≥ 1 NOVEL
    * chunk — (media_id, n_chunks, n_new) — before the store grows by
    * the batch's novel hashes (a persisted delta; the store is a lazy
    * union over them, as [[componentMaintenance]]'s index).
    * A re-delivered or duplicate payload contributes nothing and emits
    * nothing, so at-least-once upstream delivery admits each chunk
    * exactly once. Within a batch, media are counted against the
    * PRE-batch store (no intra-batch order), so emission is
    * deterministic under any partitioning. */
  def chunkIngestFeed(
      docs: DataFrame,
      storedChunks0: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      queryName: String = "graft_chunk_ingest"): Unit =
    drain(docs, queryName, Vector.empty[DataFrame], identity[Seq[DataFrame]]) { (batch, deltas) =>
      val b = OpCache.persist(batch.dropDuplicates(Seq(idCol)))
      val ch = OpCache.persist(
        graft.operators.Multimodal.gearChunkHashes(b, idCol, textCol))
      val counts = ch.groupBy(col("media_id"))
        .agg(count(lit(1)).cast("long").as("n_chunks"))
      val novel = OpCache.persist(ch.join(
        deltas.foldLeft(storedChunks0)(_ unionByName _), Seq("h"), "left_anti"))
      counts
        .join(novel.groupBy(col("media_id"))
          .agg(count(lit(1)).cast("long").as("n_new")), Seq("media_id"))
        .filter(col("n_new") > 0)
        .write.mode("append").parquet(outDir)
      val delta = OpCache.persist(novel.select(col("h")).distinct())
      delta.count()
      deltas :+ delta
    }

  /** Late-data audit — the WATERMARK OBSERVABILITY operator every
    * streaming deployment runs before (and while) trusting a
    * watermark: for each micro-batch, classify every event against
    * the maximum event time seen in STRICTLY EARLIER batches — an
    * event older than (that max − `horizon`) is exactly the event a
    * `withWatermark(ts, horizon)` aggregation would silently drop.
    * Spark offers no hook to observe those drops; this feed measures
    * them BEFORE they happen, which is how a horizon is chosen (size
    * the watermark so the measured late fraction is acceptable) and
    * monitored (a late-rate spike means an upstream partition is
    * lagging).
    *
    * State is ONE driver-side scalar — the running max event time —
    * which is precisely what Spark's own watermark tracker keeps; the
    * per-batch max is a single-row aggregate read (the Histogram
    * calibration precedent), never data on the driver. Batch 1 has no
    * prior bound, so nothing in it is late — same as a fresh
    * watermark. Appends (event_type, n_events, n_late) per batch to
    * `outDir`; the consumer sums. Deterministic given a fixed batch
    * sequence (the oracle replays the same file split). */
  def lateDataAudit(
      events: DataFrame,
      outDir: String,
      horizon: String = "1 hour",
      queryName: String = "graft_late_audit"): Unit =
    drain(events, queryName, Option.empty[Timestamp]) { (batch, maxSeen) =>
      val b = OpCache.persist(batch)
      val late = maxSeen match {
        case Some(m) =>
          (col("ts") < lit(m) - expr(s"INTERVAL $horizon")).cast("long")
        case None => lit(0L)
      }
      b.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(late).as("n_late"))
        .write.mode("append").parquet(outDir)
      val mx = b.agg(max(col("ts"))).head().getTimestamp(0)
      if (mx == null) maxSeen
      else Some(maxSeen.fold(mx)(o => if (mx.after(o)) mx else o))
    }

  /** Streaming benchmark-decontamination gate — qt17's exclusion
    * stage run AT THE DOOR (the qst19 frozen-model serve contract
    * applied to contamination): the benchmark fingerprint set loads
    * once (winnowed — substring-sensitive, eval-set-sized,
    * broadcast); each arriving micro-batch fingerprints itself,
    * counts shared fingerprints per document, and emits every batch
    * document with its verdict — `admitted` = zero shared
    * fingerprints. Rejecting at ingest is what keeps a continuously-
    * growing corpus decontaminated WITHOUT re-running the batch audit
    * over history.
    *
    * Stateless: a document's verdict depends only on its text and the
    * frozen fingerprint set, so batch boundaries cannot change any
    * row and at-least-once re-delivery re-emits IDENTICAL verdict
    * rows (consumer distinct, like the qst19 rewrite feed). Per
    * batch: one narrow fingerprint pass + a broadcast semi-join. */
  def decontaminationGateFeed(
      docs: DataFrame,
      benchFp: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      queryName: String = "graft_decontam_gate"): Unit =
    drain(docs, queryName, ()) { (batch, _) =>
      val b = batch.dropDuplicates(Seq(idCol))
      val hits = graft.operators.Dedup
        .winnowingFingerprints(b, idCol, textCol)
        .join(broadcast(benchFp), Seq("fp"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_shared_fp"))
      b.select(col(idCol).as("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"))
        .withColumn("admitted", (col("n_shared_fp") === 0L).cast("boolean"))
        .write.mode("append").parquet(outDir)
    }

  /** Streaming SEMANTIC-decontamination GATE — the embedding channel
    * at the ingest door ([[decontaminationGateFeed]]'s twin; qt42's
    * semantic half as a stream): the benchmark's IVF index
    * ([[graft.operators.Similarity.IvfIndex]], eval-set-sized) loads
    * once and stays FROZEN; each arriving micro-batch of
    * (vec_id, embedding) rows probes it
    * ([[graft.operators.Similarity.semanticLeakageReportIndexed]])
    * and every batch row gets a verdict — (vec_id, max_cos,
    * admitted), max_cos NULL when no probed cell holds a candidate —
    * so paraphrased benchmark material is rejected at ingest, before
    * it can claim a place in the corpus. Stateless: verdicts are a
    * pure function of (batch, frozen index), so at-least-once
    * re-delivery re-emits identical rows (consumer distinct).
    * Semantic verdicts inherit IVF's approximation contract — nProbe
    * is the recall dial. Ingest ids and benchmark ids live in
    * INDEPENDENT id spaces: the probe scores id-colliding pairs like
    * any other (`excludeSelf = false`), so a surrogate-key accident
    * never admits contaminated content. */
  def semanticGateFeed(
      vecs: DataFrame,
      index: graft.operators.Similarity.IvfIndex,
      idCol: String,
      vecCol: String,
      outDir: String,
      threshold: Double = 0.5,
      nProbe: Int = 2,
      queryName: String = "graft_semantic_gate"): Unit =
    drain(vecs, queryName, ()) { (batch, _) =>
      val b = batch.dropDuplicates(Seq(idCol))
      val rep = graft.operators.Similarity.semanticLeakageReportIndexed(
        index, b, idCol, vecCol, threshold, nProbe)
        .select(col("vec_id"), col("max_cos"))
      b.select(col(idCol).as("vec_id"))
        .join(rep, Seq("vec_id"), "left")
        .select(col("vec_id"), col("max_cos"),
          (col("max_cos").isNull || col("max_cos") < threshold)
            .as("admitted"))
        .write.mode("append").parquet(outDir)
    }

  /** Streaming MEDIA-ingest dedup with REAL decode — qst06's
    * first-occurrence discipline keyed on DECODED PIXEL IDENTITY
    * (qm12's exact stage at the ingest door): each arriving media
    * batch decodes ONCE ([[graft.operators.Multimodal.decodedSignatures]]
    * — ImageIO at the per-partition seam), collapses batch-internal
    * duplicates to the lowest media_id per (width, height, luma md5),
    * anti-joins the stored identity set, emits ONLY first occurrences
    * (media_id, width, height), and grows the store — so re-encoded
    * or re-uploaded copies of an image never enter the corpus twice,
    * regardless of how their FILE bytes differ. Output rows are first
    * occurrences, so at-least-once re-delivery emits nothing new
    * (consumer distinct); undecodable payloads are excluded (the
    * upstream quality gate owns them). State = one
    * (width, height, luma_md5) row per distinct stored image — cut
    * and re-persisted per batch, KB-sized keys, never pixels. */
  def mediaIngestFeed(
      media: DataFrame,
      outDir: String,
      queryName: String = "graft_media_ingest"): Unit =
    signatureIngestFeed(media, outDir, queryName,
      graft.operators.Multimodal.decodedSignatures,
      keyCols = Seq("width", "height", "luma_md5"),
      emitCols = Seq("media_id", "width", "height"))

  /** [[mediaIngestFeed]] for AUDIO — the same first-occurrence gate
    * keyed on DECODED SAMPLE-STREAM IDENTITY
    * ([[graft.operators.Multimodal.decodedAudioSignatures]] —
    * qm17's exact stage at the ingest door): a re-containered or
    * re-uploaded copy of the same recording never enters the corpus
    * twice, however its FILE bytes differ (WAV vs AIFF, junk
    * chunks). Same state and delivery contract as the image
    * feed. */
  def audioIngestFeed(
      media: DataFrame,
      outDir: String,
      queryName: String = "graft_audio_ingest"): Unit =
    signatureIngestFeed(media, outDir, queryName,
      graft.operators.Multimodal.decodedAudioSignatures,
      keyCols = Seq("sample_rate", "n_samples", "pcm_md5"),
      emitCols = Seq("media_id", "sample_rate", "n_samples"))

  /** [[mediaIngestFeed]] for VIDEO — the first-occurrence gate keyed
    * on DECODED FRAME-STREAM IDENTITY
    * ([[graft.operators.Multimodal.decodedVideoSignatures]] — RIFF
    * demux + per-frame ImageIO decode at the codec seam): a
    * re-muxed or re-padded copy of the same footage never enters the
    * corpus twice, however its container bytes differ. Same
    * state and delivery contract as the image and audio feeds. */
  def videoIngestFeed(
      media: DataFrame,
      outDir: String,
      queryName: String = "graft_video_ingest"): Unit =
    signatureIngestFeed(media, outDir, queryName,
      graft.operators.Multimodal.decodedVideoSignatures,
      keyCols = Seq("width", "height", "n_frames", "frames_md5"),
      emitCols = Seq("media_id", "width", "height", "n_frames"))

  /** Shared first-occurrence ingest gate over any decoded-signature
    * function: each batch decodes ONCE (`signatures` — the codec runs
    * at its mapPartitions seam), collapses batch-internal duplicates
    * to the lowest media_id per identity key, anti-joins the stored
    * identity set, emits only first occurrences (`emitCols`), and
    * grows the store. Output rows are first occurrences, so
    * at-least-once re-delivery emits nothing new (consumer distinct);
    * undecodable payloads are excluded (the upstream quality gate
    * owns them). State = one key row per distinct stored identity —
    * cut and re-persisted per batch, KB-sized keys, never payload
    * bytes. */
  private def signatureIngestFeed(
      media: DataFrame,
      outDir: String,
      queryName: String,
      signatures: DataFrame => DataFrame,
      keyCols: Seq[String],
      emitCols: Seq[String]): Unit =
    drain(media, queryName, Option.empty[DataFrame],
        (s: Option[DataFrame]) => s.toSeq) { (batch, state) =>
      val sig = signatures(batch.dropDuplicates(Seq("media_id")))
      val firstInBatch = sig
        .groupBy(keyCols.map(col): _*)
        .agg(min(col("media_id")).as("media_id"))
      val fresh = OpCache.persist(state match {
        case Some(st) => firstInBatch.join(st, keyCols, "left_anti")
        case None => firstInBatch
      })
      fresh.select(emitCols.map(col): _*)
        .write.mode("append").parquet(outDir)
      val merged = state match {
        case Some(st) => st.unionByName(fresh.select(keyCols.map(col): _*))
        case None => fresh.select(keyCols.map(col): _*)
      }
      val n = OpCache.persist(Lineage.cut(merged))
      n.count() // materialize before its inputs are released
      Some(n)
    }

  /** Streaming INDEX-HEALTH canary — qs40's datasheet maintained over
    * a live ingest ([[graft.operators.Similarity.ivfInsert]]'s shape
    * as a stream): the quantizer stays FROZEN (broadcast centroids),
    * each arriving vector batch assigns against it and appends to the
    * cell table (batch-proportional work — the corpus never
    * re-shuffles), and after every batch ONE
    * (grp, n_cells, n_vectors, min_cell, max_cell, empty_cells,
    * mean_cell, skew) row lands — so the drift that degrades a
    * serving index (a hot cell fattening probe latency, dead cells
    * wasting probe budget) trips an alert within one batch, the
    * moment [[graft.operators.Similarity.splitHotCells]] (qs42) or a
    * retrain (qs41) becomes worth running. State = the grown cell
    * table as lazy unions of persisted per-batch deltas (as
    * [[componentMaintenance]]'s index — nothing corpus-sized copied
    * per batch), LINEAGE-CUT every `cutEvery` batches: between cuts
    * only the batch delta materializes, and at a cut boundary the
    * union collapses to one cached LogicalRDD — so a LIFETIME canary's per-batch
    * `ivfIndexStats` re-analysis stays bounded by `cutEvery` instead
    * of growing one Union node per batch, at an amortized
    * O(corpus / cutEvery) re-materialization cost per batch. `grp`
    * identifies the batch in the output (min() reduced). Stats are
    * pure metadata aggregation per batch; at-least-once re-delivery
    * of a batch double-counts its vectors (consumption deltas are not
    * idempotent) → exactly-once feed contract, as the budget gate.
    * `probe` (test/observability seam) sees the live index after each
    * batch. */
  def indexHealthFeed(
      vecs: DataFrame,
      index0: graft.operators.Similarity.IvfIndex,
      idCol: String,
      vecCol: String,
      grp: org.apache.spark.sql.Column,
      outDir: String,
      cutEvery: Int = 8,
      queryName: String = "graft_index_health",
      probe: graft.operators.Similarity.IvfIndex => Unit = _ => ()): Unit = {
    // (cells as of the last cut, deltas appended since)
    type S = (DataFrame, Vector[DataFrame])
    def cells(s: S): DataFrame = s._2.foldLeft(s._1)(_ unionByName _)
    val noCells = index0.cells.limit(0)
    drain(vecs, queryName, (index0.cells, Vector.empty[DataFrame]),
        (s: S) => s._1 +: s._2) { case (b, (base, children)) =>
      // assign ONLY the batch against the frozen centroids (ivfInsert
      // over an empty cell table yields exactly the batch's delta)
      val delta = OpCache.persist(
        graft.operators.Similarity.ivfInsert(
          graft.operators.Similarity.IvfIndex(index0.centroids, noCells),
          b.select(col(idCol), col(vecCol)), idCol, vecCol).cells)
      delta.count()
      val appended: S = (base, children :+ delta)
      val next: S =
        if (appended._2.size < cutEvery) appended
        else {
          val cut = OpCache.persist(Lineage.cut(cells(appended)))
          cut.count() // materialize before the children it reads are released
          (cut, Vector.empty)
        }
      val cur = graft.operators.Similarity.IvfIndex(index0.centroids, cells(next))
      val g = b.agg(min(grp).as("grp"))
      graft.operators.Similarity.ivfIndexStats(cur)
        .crossJoin(broadcast(g))
        .select(col("grp"), col("n_cells"), col("n_vectors"),
          col("min_cell"), col("max_cell"), col("empty_cells"),
          col("mean_cell"), col("skew"))
        .write.mode("append").parquet(outDir)
      probe(cur)
      next
    }
  }

  /** Streaming PROFILE MAINTENANCE —
    * [[graft.warehouse.Profile.mergeableProfile]] maintained as live
    * state (qw25's incremental discipline on a stream): each
    * micro-batch profiles itself and MERGES into the running state —
    * counts add, min/max fold, KMV sketches union-truncate — so the
    * state after draining equals a batch profile of everything that
    * arrived, estimate included. State = one row per column (plus a
    * KB of sketch), cut and re-persisted per batch (the qt33 model
    * discipline: an un-cut state frame would re-analyze the whole
    * merge history every batch). Deltas are NOT idempotent (counts
    * add), so the feed contract is exactly-once — compose qst03's
    * dedup for at-least-once sources. The final state lands in
    * `outDir` when the stream drains. */
  def profileMaintenanceFeed(
      stream: DataFrame,
      cols: Seq[String],
      distinctKey: String => org.apache.spark.sql.Column,
      outDir: String,
      queryName: String = "graft_profile_maint"): Unit =
    drain(stream, queryName, Option.empty[DataFrame],
        reads = (s: Option[DataFrame]) => s.toSeq,
        finish = (s: Option[DataFrame]) => {
          s.foreach(_.write.mode("overwrite").parquet(outDir))
          Nil
        }) { (batch, state) =>
      val bp = graft.warehouse.Profile.mergeableProfile(batch, cols, distinctKey)
      Some(OpCache.persist(Lineage.cut(
        state.fold(bp)(graft.warehouse.Profile.mergeProfiles(_, bp)))))
    }

  /** Streaming profile-drift monitor —
    * [[graft.warehouse.Profile.profileDrift]] run per micro-batch
    * against a FROZEN baseline profile (the qst17/qst18 frozen-model
    * serve contract applied to data observability): the baseline is
    * computed once from the trusted snapshot and broadcast-joined
    * against each batch's fresh per-column profile; every batch
    * appends its (batch_no, col_name, status, …) verdict rows to
    * `outDir`. This is the ingest-side canary that catches a
    * producer silently dropping a column, nulling a field, or
    * shifting a value range IN the stream, batches before the
    * warehouse merge would.
    *
    * Zero streaming state (the batch counter is an ordinal label,
    * not state — verdicts depend only on batch content + the frozen
    * baseline), so re-delivery re-emits identical rows for the same
    * batch content. Per batch: one profile pass over the batch
    * (column-pruned branches) + a schema-sized join. */
  def profileDriftFeed(
      stream: DataFrame,
      baselineProfile: DataFrame,
      outDir: String,
      queryName: String = "graft_profile_drift"): Unit =
    drain(stream, queryName, 0L) { (batch, batchNo) =>
      graft.warehouse.Profile
        .driftJoin(baselineProfile,
          graft.warehouse.Profile.profile(batch))
        .withColumn("batch_no", lit(batchNo))
        .write.mode("append").parquet(outDir)
      batchNo + 1
    }

  /** Streaming subject-erasure feed — [[graft.warehouse.Erasure]] run
    * as a live compliance pipeline: deletion REQUESTS arrive as a
    * stream of subject keys, and each micro-batch emits its cascade
    * manifest increment (customer→orders→lineitem, the same FK walk as
    * the batch planner) by stream-static semi-joining the batch
    * against the warehouse tables, appending to `outDir`. No streaming
    * state at all: a subject's manifest depends only on the static
    * tables, so batch boundaries cannot change any row, and
    * at-least-once re-delivery re-emits IDENTICAL manifest rows — the
    * manifest is keyed content, so the consumer's distinct (or an
    * idempotent delete executor, which deleting twice trivially is)
    * absorbs duplicates. Read `outDir` for the manifest. */
  def erasureFeed(
      subjects: DataFrame,
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      outDir: String,
      queryName: String = "graft_erasure_feed"): Unit =
    drain(subjects, queryName, ()) { (batch, _) =>
      graft.warehouse.Erasure.erasurePlan(
        customer, orders, lineitem, batch)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming CDC snapshot — [[graft.warehouse.Cdc.applyChanges]] as
    * a continuously-maintained materialized view: per key, keep the
    * change row with the greatest order tuple seen so far (`max_by`
    * over a struct — a regular streaming aggregation, so partial
    * aggregation and state updates are incremental per micro-batch).
    * Run in Complete/Update mode; the sink always holds the current
    * snapshot. Duplicate upstream delivery is absorbed for free —
    * max_by is idempotent — so at-least-once sources need no separate
    * dedup stage. Tombstone filtering is the CONSUMER's projection
    * (filter last_* on read): dropping tombstones inside the stream
    * would lose the state needed to suppress a key whose latest change
    * is a delete.
    *
    * State is one row per live key — the inherent size of the snapshot
    * being maintained, not a leak; keys partition uniformly and the
    * aggregation never holds history (contrast qw03's SCD2, which is
    * the batch path when history must survive). */
  def cdcSnapshot(
      changes: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      payloadCols: Seq[String]): DataFrame =
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payloadCols.map(col): _*),
        struct(orderCols.map(col): _*)).as("last"))
      .select(keyCols.map(col) ++
        payloadCols.map(c => col(s"last.$c").as(s"last_$c")): _*)

  /** Streaming exact deduplication by event id within the watermark
    * (`dropDuplicatesWithinWatermark`): the event-dedup stage of a
    * streaming ingest — at-least-once upstream delivery becomes
    * exactly-once downstream, with state bounded by the watermark
    * horizon instead of growing with the stream (the unbounded-state
    * trap of plain `dropDuplicates` on a stream). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join with an event-time range condition:
    * every view joined to the same user's clicks within `horizonMin`
    * minutes AFTER the view — the attribution join. Both sides are
    * watermarked and the join condition bounds event-time distance, so
    * each side's state is evicted once the other side's watermark
    * passes `ts + horizon` — state stays bounded by (watermark +
    * horizon) × arrival rate, never the whole stream. Without the time
    * bound Spark would (correctly) refuse to plan the join: unbounded
    * state is a bug, not a capability. */
  /** @param joinType "inner" (matches only) or "left_outer": views
    *   with no click in the horizon emit a null click_id — but only
    *   once the watermark passes the end of their match window (state
    *   eviction is what triggers outer emission; views inside the
    *   final watermark horizon are still "awaiting matches" when an
    *   AvailableNow run drains and never emit an outer row). */
  def attributionJoin(
      views: DataFrame,
      clicks: DataFrame,
      horizonMin: Int = 10,
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
      col("user_id") === col("click_user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizonMin MINUTES"),
      joinType)
      .select(col("view_id"), col("click_id"), col("user_id"))
  }

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(
      sessionStart: Long, lastSeen: Long, count: Long, sum: Double)

  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** Custom stateful sessionization (gap-based) via
    * flatMapGroupsWithState — the operator Spark's built-in windows
    * can't express (per-key mutable session state with inactivity
    * timeout).
    *
    * Event-time timeouts against the watermark, NOT processing-time:
    * wall-clock timeouts make results machine/timing-dependent and the
    * rescheduled trigger batches mean the stream never drains in
    * replay/backfill. With the watermark, a session closes either on an
    * in-batch gap break or when the watermark passes lastSeen+gap —
    * deterministic given the same input, which is the property every
    * other operator in this engine guarantees.
    */
  def sessionize(
      events: Dataset[Event],
      gapMillis: Long = 30L * 60 * 1000): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var cur = state.getOption
      val out = Seq.newBuilder[Session]
      def close(s: SessionState): Unit =
        out += Session(userId, new Timestamp(s.sessionStart),
          new Timestamp(s.lastSeen), s.count, s.sum)
      if (state.hasTimedOut && sorted.isEmpty) {
        cur.foreach(close)
        state.remove()
        cur = None
      } else {
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.lastSeen <= gapMillis =>
              // Out-of-order but within-watermark events must never move
              // the session window backwards: a t < lastSeen arrival would
              // otherwise shrink the session end across micro-batches,
              // fire the event-time timeout early, and split a session
              // that a single-batch replay keeps whole.
              cur = Some(s.copy(
                sessionStart = math.min(s.sessionStart, t),
                lastSeen = math.max(s.lastSeen, t),
                count = s.count + 1, sum = s.sum + e.value))
            case Some(s) =>
              close(s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastSeen + gapMillis)
        }
      }
      out.result().iterator
    }

    events
      .withWatermark("ts", s"$gapMillis milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Streaming EMBEDDING-DRIFT monitor — each arriving vector batch
    * projects onto a FROZEN principal axis
    * ([[graft.operators.Similarity.pcaComponent]], trained offline on
    * the reference corpus) and emits one (grp, n, mean_proj, var_proj)
    * row: a new embedding-model version, a mix shift, or an upstream
    * preprocessing change moves the projection distribution within one
    * batch — the embedding-space twin of the profile-drift canary
    * (qst23). Stateless (the axis is a broadcast constant), so
    * re-delivery re-emits identical rows.
    *
    * Per batch: one dim-keyed broadcast join + per-vector hash agg
    * (the qs31 serve pass), then the qs34 exact-sum variance dag —
    * projections quantize to DECIMAL(30,6) before the order-invariant
    * sums, so rows are bit-reproducible at any partitioning.
    *
    * @param axis (dim, v) — the trained component
    * @param muv  1-row (muv) — the axis·mean dot from training
    * @param grp  batch identifier expression (constant within a batch)
    */
  def embeddingDriftFeed(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      axis: DataFrame,
      muv: DataFrame,
      grp: org.apache.spark.sql.Column,
      outDir: String,
      queryName: String = "graft_embedding_drift"): Unit = {
    import graft.expr.Exprs.exactSum
    drain(vecs, queryName, ()) { (b, _) =>
      val cq = b
        .select(col(idCol).as("vec_id"),
          posexplode(col(vecCol)).as(Seq("dim", "xf")))
        .select(col("vec_id"), col("dim"),
          col("xf").cast("double").as("x"))
        .join(broadcast(axis), Seq("dim"))
        .groupBy(col("vec_id"))
        .agg(exactSum(col("x") * col("v")).as("xv"))
        .crossJoin(broadcast(muv))
        .select((col("xv") - col("muv"))
          .cast(org.apache.spark.sql.types.DecimalType(30, 6))
          .as("cq"))
      val stats = cq.agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("cq")).cast("double").as("sx"),
        exactSum(col("cq").cast("double") * col("cq").cast("double"))
          .as("sxx"))
        .select(col("n"),
          round(col("sx") / col("n"), 6).as("mean_proj"),
          round((col("sxx") - col("sx") * col("sx") / col("n"))
            / col("n"), 6).as("var_proj"))
      val g = b.agg(min(grp).as("grp"))
      stats.crossJoin(broadcast(g))
        .select(col("grp"), col("n"), col("mean_proj"), col("var_proj"))
        .write.mode("append").parquet(outDir)
    }
  }

  /** Streaming BUDGET GATE — the per-source token allocation
    * ([[graft.operators.Curation.tokenBudgetWaterfill]]'s plan, or any
    * (source, alloc_tokens) table) enforced at the ingest door across
    * the stream's LIFETIME: each batch admits its per-source hash-order
    * prefix while the source's running consumption stays within its
    * allocation, and rejects the rest — so a source can never crowd
    * the corpus past its planned share no matter how much it ships.
    *
    * State = one (source, consumed) row per source that ever admitted
    * a document — the inherent minimum — cut and re-persisted per
    * batch (the profile-maintenance discipline). Within a batch the
    * admitted set is the [[graft.operators.Sharding.groupedTokenPrefix]]
    * prefix (rejections are suffix-contiguous), so verdicts are
    * deterministic at any partitioning. Consumption deltas are NOT
    * idempotent → exactly-once feed contract (compose qst03's dedup
    * for at-least-once sources). Sources absent from `alloc` are
    * rejected outright.
    *
    * Emits (doc_id, source, tokens, admitted) per document. */
  def budgetGateFeed(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      tokensCol: org.apache.spark.sql.Column,
      alloc: DataFrame,
      outDir: String,
      queryName: String = "graft_budget_gate"): Unit = {
    val a = alloc.select(col("source").as("grp"), col("alloc_tokens"))
    drain(docs, queryName, Option.empty[DataFrame],
        (s: Option[DataFrame]) => s.toSeq) { (batch, state) =>
      val pre = graft.operators.Sharding.groupedTokenPrefix(
        batch, sourceCol, idCol, tokensCol)
      val withC = state match {
        case Some(cs) => pre.join(broadcast(cs), Seq("grp"), "left")
          .withColumn("consumed", coalesce(col("consumed"), lit(0L)))
        case None => pre.withColumn("consumed", lit(0L))
      }
      val verdicts = OpCache.persist(
        withC.join(broadcast(a), Seq("grp"), "left")
          .withColumn("admitted",
            col("alloc_tokens").isNotNull &&
              col("before") + col("tokens") <=
                col("alloc_tokens") - col("consumed"))
          .select(col("doc_id"), col("grp").as("source"),
            col("tokens"), col("admitted")))
      verdicts.write.mode("append").parquet(outDir)
      val delta = verdicts.filter(col("admitted"))
        .groupBy(col("source"))
        .agg(sum(col("tokens")).as("d"))
        .select(col("source").as("grp"), col("d"))
      val merged = state match {
        case Some(cs) => cs.join(delta, Seq("grp"), "full_outer")
          .select(col("grp"),
            (coalesce(col("consumed"), lit(0L)) +
              coalesce(col("d"), lit(0L))).as("consumed"))
        case None => delta.select(col("grp"), col("d").as("consumed"))
      }
      // cut: an un-cut state would re-analyze the whole merge
      // history every batch (the qt33 model discipline)
      val n = OpCache.persist(Lineage.cut(merged))
      n.count() // materialize before the frames it reads are released
      Some(n)
    }
  }

  /** Streaming SCORER-HEALTH canary — [[graft.operators.Eval.aucReport]]
    * per micro-batch: each arriving labeled audit batch is scored and
    * its exact tie-aware AUC lands as one (grp, n_pos, n_neg, auc)
    * row, so a quality filter losing discrimination (model rot, drift
    * in the incoming mix) trips an alert within one batch instead of
    * one retraining cycle. Runs on the LABELED audit stream (a sampled
    * side channel), not the raw corpus — AUC needs labels.
    *
    * Stateless: verdict rows are a pure function of their batch, so
    * re-delivery re-emits identical rows (consumer distinct).
    * `grp` must be constant within a batch (it identifies the batch
    * in the output — here min() reduces it); score/label are any
    * batch-column expressions.
    */
  def scorerAucFeed(
      docs: DataFrame,
      score: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column,
      grp: org.apache.spark.sql.Column,
      outDir: String,
      queryName: String = "graft_scorer_auc"): Unit =
    drain(docs, queryName, ()) { (batch, _) =>
      val scored = batch
        .select(score.as("score"), label.as("label"), grp.as("grp"))
      val rep = graft.operators.Eval.aucReport(scored, "label", "score")
      val g = scored.agg(min(col("grp")).as("grp"))
      rep.crossJoin(broadcast(g))
        .select(col("grp"), col("n_pos"), col("n_neg"), col("auc"))
        .write.mode("append").parquet(outDir)
    }
}

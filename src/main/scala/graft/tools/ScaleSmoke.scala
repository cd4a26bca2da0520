package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.expr.Exprs.exactSum
import graft.operators.{Dedup, Similarity}

/** Scale-behavior smoke: multiply the sf tables by a factor (keys
  * remapped so join cardinalities scale honestly, documents duplicated
  * so dedup meets real duplicate mass), stage as multi-file parquet in
  * /tmp, and time the representative operators. The point is the
  * *slope*: if sf0.1→×N runtimes grow ~linearly the 100 TB argument in
  * SCALING.md has evidence; superlinear growth flags a shuffle or skew
  * problem to fix now.
  *
  * sbt -batch "runMain graft.tools.ScaleSmoke [factor] [baseSfDir]"
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 10
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // optional comma-separated op filter (3rd arg): re-measure a few
    // fixtures without paying for the whole suite; skipped ops report
    // sec=0 rows=-1
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def enabled(name: String): Boolean = only.forall(_.contains(name))
    val out = s"/tmp/graft_scale_x$factor"
    val spark = graft.SparkEntry.localSession()
    import spark.implicits._

    def scaled(name: String, keyCols: Seq[String]): DataFrame = {
      val df = Tables.load(spark, base, name)
      val copies = spark.range(factor.toLong).toDF("__copy")
      val multiplied = df.crossJoin(copies)
      keyCols.foldLeft(multiplied)((d, k) =>
        d.withColumn(k, col(k) * factor + col("__copy"))).drop("__copy")
    }

    // stage multi-file parquet (the realistic input shape).
    // SPARK_GRAFT_REUSE_STAGE=1 skips tables already staged at this
    // factor — the one-op-per-JVM measurement discipline (round-10
    // variance study) re-launches a JVM per (op, factor), and the
    // staging is deterministic (formula remap + hash repartition), so
    // later launches may reuse the first launch's files.
    val reuse = sys.env.get("SPARK_GRAFT_REUSE_STAGE").contains("1")
    Seq(
      ("lineitem", Seq("l_orderkey")),
      ("orders", Seq("o_orderkey", "o_custkey")),
      ("customer", Seq("c_custkey")),
      ("documents", Seq("doc_id")),
      ("embeddings", Seq("vec_id")),
      ("events", Seq("event_id", "user_id"))
    ).foreach { case (n, keys) =>
      val dest = s"$out/$n.parquet"
      if (!(reuse && new java.io.File(dest, "_SUCCESS").exists()))
        scaled(n, keys).repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dest)
    }

    def time(name: String)(thunk: => Long): (String, Double, Long) = {
      if (!enabled(name)) return (name, 0.0, -1L)
      val t0 = System.nanoTime()
      val n = thunk
      (name, (System.nanoTime() - t0) / 1e9, n)
    }

    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$out/orders.parquet")
    val cust = spark.read.parquet(s"$out/customer.parquet")
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$out/embeddings.parquet")

    // incremental-ingest fixture: ~1% batch against the rest. ALL
    // three corpus artifacts are explicitly persisted and materialized
    // here so the timed entry measures the recurring batch-probe only
    // (production reads these from storage between ingests).
    val corpusI = docs.filter(pmod($"doc_id", lit(101)) =!= 0)
    val batchI = docs.filter(pmod($"doc_id", lit(101)) === 0)
    val idxI = {
      val built = Dedup.buildCorpusIndex(corpusI, "doc_id", "text")
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val idx = Dedup.CorpusIndex(built.hashes.persist(lvl),
        built.shingles, built.bands.persist(lvl))
      idx.hashes.count(); idx.shingles.count(); idx.bands.count()
      idx
    }

    val idxV = {
      val built = Similarity.buildIvfIndex(emb, "vec_id", "embedding")
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val idx = Similarity.IvfIndex(
        built.centroids.persist(lvl), built.cells.persist(lvl))
      idx.centroids.count(); idx.cells.count()
      idx
    }

    // media ingest-gate fixtures (qst32/qst33's feeds at scale): stage
    // the encoded payloads OUTSIDE the timed thunk — the timed entry is
    // the gate (decode + identity collapse + anti-join + store growth)
    // over 4 micro-batches, not the fixture encode/write
    def stageMedia(name: String, media: => DataFrame): Option[String] =
      if (!enabled(name)) None
      else {
        val dir = s"$out/${name}_in"
        if (!(reuse && new java.io.File(dir, "_SUCCESS").exists()))
          media.select($"media_id", $"bytes")
            .repartition(8).write.mode("overwrite").parquet(dir)
        Some(dir)
      }
    val audioGateIn = stageMedia("audio_ingest_gate",
      graft.operators.Multimodal.syntheticAudio(docs, "doc_id", "text"))
    val videoGateIn = stageMedia("video_ingest_gate",
      graft.operators.Multimodal.syntheticVideos(docs, "doc_id"))
    def runGate(in: String,
        feed: (DataFrame, String) => Unit): Long = {
      val gateOut = java.nio.file.Files
        .createTempDirectory("graft_scale_gate_").toString
      val stream = spark.readStream
        .schema("media_id LONG, bytes BINARY")
        .option("maxFilesPerTrigger", 2)
        .parquet(in + "/*.parquet")
      feed(stream, gateOut)
      spark.read.parquet(gateOut).count()
    }

    val results = Seq(
      time("group_agg") {
        li.groupBy($"l_returnflag", $"l_linestatus")
          .agg(exactSum($"l_extendedprice").as("s"), count(lit(1)).as("n"))
          .count()
      },
      time("fact_join_agg") {
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(exactSum($"l_quantity").as("q")).count()
      },
      time("window_dedup") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber", $"l_partkey")
        li.withColumn("rn", row_number().over(w)).filter($"rn" === 1).count()
      },
      time("exact_dedup") {
        Dedup.exactDupGroups(docs, "doc_id", "text").filter($"n_copies" > 1).count()
      },
      time("minhash_lsh") {
        Dedup.lshNearDupPairs(docs, "doc_id", "text").count()
      },
      time("minhash_after_exact_collapse") {
        // the documented production order: collapse exact duplicates
        // first so LSH pair generation sees near-dup mass only
        val reps = Dedup.exactDupGroups(docs, "doc_id", "text")
          .select($"keep_id".as("doc_id"))
        val collapsed = docs.join(reps, Seq("doc_id"), "left_semi")
        Dedup.lshNearDupPairs(collapsed, "doc_id", "text").count()
      },
      time("dedup_corpus") {
        // the packaged end-to-end operator (collapse → LSH → keep)
        Dedup.dedupCorpus(docs, "doc_id", "text").count()
      },
      time("span_dedup") {
        graft.operators.Overlap
          .duplicatedSpanStats(docs, "doc_id", "text", n = 5).count()
      },
      time("repetition_rules") {
        graft.operators.QualityRules
          .repetitionStats(docs, "doc_id", "text").count()
      },
      time("contamination") {
        graft.operators.Overlap.contaminationHits(
          docs.filter(pmod($"doc_id", lit(50)) =!= 0),
          docs.filter(pmod($"doc_id", lit(50)) === 0),
          "doc_id", "text", n = 8).count()
      },
      time("cluster_corpus") {
        // production order: exact-collapse first, stars + rep pairs,
        // then the component closure (Dedup.corpusClusters)
        Dedup.corpusClusters(docs, "doc_id", "text").count()
      },
      time("incremental_ingest") {
        // corpus artifacts are resident (persisted + counted above) —
        // this is the recurring per-ingest batch-probe cost
        Dedup.incrementalDedupWithIndex(idxI, batchI, "doc_id", "text")
          .count()
      },
      {
        // Incremental-components fixture: the batch must be a COHERENT
        // ingest (all copies of ~1% of ORIGINAL docs), not an
        // id-uniform sample — the duplicated corpus puts every
        // original's copies in one near-dup component, so a uniform
        // sample touches essentially every component and the
        // "incremental" path degenerates to a full re-solve (measured:
        // 22.6 s at ×10, worse than re-clustering). A real ingest—a
        // day's crawl—touches the components it collides with, which
        // is what affected-component cost scales by.
        if (!enabled("incremental_components"))
          ("incremental_components", 0.0, -1L)
        else {
          val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
          val corpusC = docs.filter(expr(s"(doc_id div $factor) % 101 <> 0"))
          val batchC = docs.filter(expr(s"(doc_id div $factor) % 101 = 0"))
          // Threshold 0.7, not the suite's 0.5: at 0.5 this corpus's
          // 250k-pair near-dup graph PERCOLATES into giant components,
          // so any batch touches ~everything and incremental == full
          // re-solve by construction (measured 18.4 s at ×10). At the
          // production-typical 0.7 the components stay at exact-copy /
          // tight-near-dup granularity and the fixture measures what
          // the operator scales by: affected-component mass.
          val idxC = {
            val built = Dedup.buildCorpusIndex(corpusC, "doc_id", "text")
            val idx = Dedup.CorpusIndex(built.hashes.persist(lvl),
              built.shingles.persist(lvl), built.bands.persist(lvl))
            idx.hashes.count(); idx.shingles.count(); idx.bands.count()
            idx
          }
          val labelsC = {
            val p = Dedup.lshNearDupPairs(corpusC, "doc_id", "text",
              threshold = 0.7)
              .select($"a_id", $"b_id")
            val self = corpusC.select($"doc_id".as("a_id"),
              $"doc_id".as("b_id"))
            val l = Dedup.connectedComponents(p.unionByName(self), "a_id", "b_id")
              .persist(lvl)
            l.count(); l
          }
          val t = time("incremental_components") {
            // collapse-first edge discovery (batchNearDupStarEdges):
            // the duplicated fixture's batch carries `factor` exact
            // copies of each sampled original — the raw pair contract
            // emitted factor²/2 identical-content pairs per original
            // (measured 5.3 → 43 s ×10→×30, quadratic); stars are
            // linear and label-identical
            val e = Dedup.batchNearDupStarEdges(idxC, batchC, "doc_id",
              "text", threshold = 0.7)
            Dedup.incrementalComponents(labelsC, e,
              batchC.select($"doc_id".as("node"))).count()
          }
          labelsC.unpersist(true); idxC.unpersist(true)
          t
        }
      },
      time("ann_probe_stored") {
        // recurring similarity-service cost: the IVF artifacts are
        // resident (persisted + counted below before timing), only the
        // ~1% query batch ranks centroids and joins the cell table
        Similarity.ivfTopKWithIndex(idxV,
          emb.filter(pmod($"vec_id", lit(101)) === 0),
          "vec_id", "embedding", k = 5).count()
      },
      {
        // the resident artifacts must drop BEFORE the timer starts: the
        // cache manager serves any matching cached plan (a cache read
        // would time as a build), and the unpersist itself is cleanup,
        // not build work.
        idxV.centroids.unpersist(true); idxV.cells.unpersist(true)
        time("ann_build_index") {
          // the contrast: quantize + assign the whole corpus from scratch
          Similarity.buildIvfIndex(emb, "vec_id", "embedding")
            .cells.count()
        }
      },
      time("sq_scan") {
        // scalar-quantized scan tier: ~1% query batch against the
        // int8-coded corpus (calibrate + quantize + integer-dot scan)
        Similarity.scalarQuantTopK(emb,
          emb.filter(pmod($"vec_id", lit(101)) === 0),
          "vec_id", "embedding", k = 5).count()
      },
      {
        // isolate the PR power iterations from pair generation: the
        // edge list materializes before the timer starts
        val edges = Dedup.lshNearDupPairs(docs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edges.count()
        val t = time("pagerank_2iter") {
          graft.operators.GraphRank.pageRank(docs, "doc_id", edges, iters = 2)
            .count()
        }
        edges.unpersist(true)
        t
      },
      time("winnowing_pairs") {
        // benched configuration (df-cut 15) — the duplicated corpus
        // multiplies every fingerprint's df by the factor, so the cut
        // exercises the hot-key path by construction
        Dedup.winnowingPairs(docs, "doc_id", "text",
          maxDocFreq = Some(15L)).count()
      },
      time("chunk_dedup") {
        graft.operators.Multimodal.chunkDedupStats(
          graft.operators.Multimodal.asMedia(
            docs, "doc_id", "text", "application/octet-stream")).count()
      },
      time("gear_chunk_dedup") {
        // content-defined chunking (rolling-hash kernel): should track
        // chunk_dedup's slope — the cutter adds no shuffle
        graft.operators.Multimodal.gearChunkDedupStats(
          docs, "doc_id", "text").count()
      },
      time("edit_distance_dedup") {
        // production order (the dedup_corpus discipline): the
        // duplicated corpus's exact-duplicate titles collapse to
        // distinct representatives BEFORE blocking, so in-block pair
        // counts scale with the distinct vocabulary, not the raw row
        // count; maxBlock caps whatever adversarial mass remains
        val distinctTitles = docs
          .select(substring($"text", 1, 24).as("title"), $"doc_id")
          .groupBy($"title").agg(min($"doc_id").as("doc_id"))
        graft.operators.Dedup.editDistanceNearDup(
          distinctTitles, "doc_id", "title", maxDist = 2).count()
      },
      time("pq_adc_scan") {
        // PQ tier: train + encode + ADC-score a FIXED 100-query batch
        // (original ids 0..99, copy 0 — constant across factors).
        // ADC cost is batch × corpus × nSub at join grain; scaling
        // the batch with the corpus (the other fixtures' 1% rule)
        // would measure a quadratic no serving deployment runs — the
        // operator's contract is a bounded query batch against a
        // growing corpus, and THIS curve is that contract's slope.
        Similarity.pqTopK(emb,
          emb.filter($"vec_id" < factor.toLong * 100 &&
            pmod($"vec_id", lit(factor)) === 0),
          "vec_id", "embedding", k = 5).count()
      },
      time("asof_join") {
        val ev = {
          val raw = spark.read.parquet(s"$out/events.parquet")
          if (raw.schema("ts").dataType ==
              org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        }
        val err = ev.filter($"event_type" === "error")
          .select($"user_id", $"ts".as("err_ts"),
            $"value".as("last_err_value"), $"event_id".as("err_id"))
        graft.operators.AsofJoin.asofBackward(
          ev, err, key = "user_id", leftTs = "ts", rightTs = "err_ts",
          payload = Seq("last_err_value"), rightTiebreak = Some("err_id"))
          .count()
      },
      time("segment_dedup_rewrite") {
        // the duplicated corpus multiplies every segment's repeat mass
        // by the factor — exactly the load the argmin keep-first is
        // built to collapse map-side (distinct segments stay constant)
        Dedup.segmentDedupRewrite(docs, "doc_id", "text").count()
      },
      time("sorted_neighborhood") {
        // production order (the dedup_corpus discipline): exact copies
        // collapse to representatives first — SNM's rank neighborhoods
        // measure near-dup structure, not copy runs
        val reps = Dedup.exactDupGroups(docs, "doc_id", "text")
          .select($"keep_id".as("doc_id"))
        val collapsed = docs.join(reps, Seq("doc_id"), "left_semi")
        Dedup.sortedNeighborhoodPairs(collapsed, "doc_id", "text",
          Dedup.snmDefaultKeys("text"), window = 4).count()
      },
      time("containment_pairs") {
        // collapse-first for the same reason: containment between exact
        // copies is 1.0 by definition and would fill the output with
        // factor² copy pairs no pipeline wants
        val reps = Dedup.exactDupGroups(docs, "doc_id", "text")
          .select($"keep_id".as("doc_id"))
        val collapsed = docs.join(reps, Seq("doc_id"), "left_semi")
        Dedup.containmentPairs(collapsed, "doc_id", "text").count()
      },
      time("hll_distinct") {
        graft.functions.GraftFunctions.register(spark)
        li.select($"l_returnflag",
            Dedup.hash60($"l_orderkey".cast("string")).as("h"))
          .groupBy($"l_returnflag")
          .agg(call_function("graft_hll", $"h", lit(8)).as("regs"))
          .count()
      },
      time("kcore_6rounds") {
        val e = li.select($"l_orderkey".as("a_id"),
          ($"l_partkey".cast("long") + 1000000000L).as("b_id")).distinct()
        graft.operators.GraphRank.kCore(e, k = 6, rounds = 6).count()
      },
      time("seasonal_decompose") {
        val ev = {
          val raw = spark.read.parquet(s"$out/events.parquet")
          if (raw.schema("ts").dataType ==
              org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        }
        graft.operators.Timeseries.seasonalDecompose(ev, "ts", "value")
          .count()
      },
      time("scd2_apply") {
        val hist = cust.filter($"c_custkey" % 13 =!= 0)
          .select($"c_custkey",
            when($"c_custkey" % 7 === 0, lit("OLD"))
              .otherwise($"c_mktsegment").as("segment"),
            lit("1990-01-01 00:00:00").as("valid_from"),
            lit(null).cast("string").as("valid_to"),
            lit(true).as("is_current"))
        val snap = cust.filter($"c_custkey" % 11 =!= 0)
          .select($"c_custkey", $"c_mktsegment".as("segment"))
        graft.warehouse.Cdc.scd2Apply(hist, snap, "c_custkey",
          Seq("segment"), effectiveTs = "2000-06-01 00:00:00").count()
      },
      time("incremental_join") {
        val aOld = ord.filter($"o_orderkey" % 5 =!= 0)
        val dA = ord.filter($"o_orderkey" % 5 === 0)
        val bOld = cust.filter($"c_custkey" % 7 =!= 0)
        val dB = cust.filter($"c_custkey" % 7 === 0)
        def j(a: DataFrame, b: DataFrame) =
          a.join(b, $"o_custkey" === $"c_custkey")
            .select($"o_orderkey", $"c_custkey", $"c_mktsegment")
        j(aOld, bOld).unionByName(j(dA, bOld.unionByName(dB)))
          .unionByName(j(aOld, broadcast(dB))).count()
      },
      time("label_propagation") {
        // LPA over the order-part bipartite graph, 3 rounds
        val e = li.select($"l_orderkey".as("a_id"),
          ($"l_partkey".cast("long") + 1000000000L).as("b_id")).distinct()
        val nodes = e.select($"a_id".as("id"))
          .unionByName(e.select($"b_id".as("id"))).distinct()
        graft.operators.GraphRank.labelPropagation(nodes, "id", e, rounds = 3)
          .count()
      },
      time("gear_chunk_neardup") {
        // collapse-first: exact copies would pair at jaccard 1.0 × factor²
        val reps = Dedup.exactDupGroups(docs, "doc_id", "text")
          .select($"keep_id".as("doc_id"))
        val collapsed = docs.join(reps, Seq("doc_id"), "left_semi")
        graft.operators.Multimodal.gearChunkNearDupPairs(
          collapsed, "doc_id", "text").count()
      },
      time("cube_hll") {
        graft.functions.GraftFunctions.register(spark)
        li.select($"l_returnflag", $"l_linestatus",
            Dedup.hash60($"l_orderkey".cast("string")).as("h"))
          .cube($"l_returnflag", $"l_linestatus")
          .agg(call_function("graft_hll", $"h", lit(8)).as("regs"))
          .count()
      },
      time("cms_estimates") {
        // grid build over the full fact + per-key broadcast probes;
        // state is 16 KB regardless of factor, so the slope should be
        // the two linear passes (count-groupBy + sketch agg)
        graft.operators.Frequency.cmsPointEstimates(
          li.select($"l_partkey"), "l_partkey", depth = 4, width = 512)
          .count()
      },
      time("text_chunks") {
        // pure map-side fan-out: rows ≈ n_tokens/stride per doc, zero
        // exchange — the slope is the scan+explode cost alone
        graft.operators.TextAnalysis.chunkTokens(
          docs, "doc_id", "text", chunkSize = 64, stride = 48).count()
      },
      time("sketch_containment") {
        // collapse-first as qd24's fixture: copy pairs are containment
        // 1.0 by definition and would fill the output with factor² rows
        val reps = Dedup.exactDupGroups(docs, "doc_id", "text")
          .select($"keep_id".as("doc_id"))
        val collapsed = docs.join(reps, Seq("doc_id"), "left_semi")
        Dedup.sketchContainmentPairs(collapsed, "doc_id", "text").count()
      },
      time("mmr_rerank") {
        Similarity.mmrTopK(emb, emb.filter(pmod($"vec_id", lit(97)) === 0),
          "vec_id", "embedding", candK = 20, k = 3).count()
      },
      time("bpe_train3") {
        // one corpus pass + 3 vocab-sized rounds: the slope should be
        // the word-count aggregate alone (vocab is constant across
        // factors — duplicated corpora add frequency, not words)
        graft.operators.Bpe.trainBpe(docs, "doc_id", "text", rounds = 3)
          .vocab.count()
      },
      time("cluster_split") {
        // qd11's clustering + a narrow split projection: the slope IS
        // the cluster_corpus slope
        graft.operators.Curation.clusterAwareSplit(docs, "doc_id", "text")
          .count()
      },
      time("compaction_plan") {
        graft.storage.Compaction.compactionPlan(
          ord.select(year($"o_orderdate").cast("long").as("grp"),
            $"o_orderkey", floor($"o_totalprice" * 100).as("bytes")),
          "grp", "o_orderkey", "bytes", 500000000L).count()
      },
      time("grouped_regression") {
        graft.operators.Stats.groupedRegression(
          li, "l_returnflag", "l_quantity", "l_extendedprice").count()
      },
      time("attribution") {
        val ev = spark.read.parquet(s"$out/events.parquet")
        graft.operators.Funnel.touchAttribution(ev, "user_id", "ts",
          "event_type", "event_id", "purchase", Seq("view", "click"))
          .count()
      },
      time("event_pattern") {
        val ev = spark.read.parquet(s"$out/events.parquet")
        graft.operators.Funnel.patternOccurrences(ev, "user_id", "ts",
          "event_type", "event_id",
          Map("view" -> "V", "click" -> "C", "purchase" -> "P"),
          "V[^P]*C[^P]*P").count()
      },
      time("hard_negatives") {
        graft.operators.Similarity.hardNegatives(emb, "vec_id",
          "embedding", "label", emb.filter($"vec_id" % 101 === 0),
          k = 5).count()
      },
      time("profile") {
        graft.warehouse.Profile.profile(ord).count()
      },
      time("source_divergence") {
        graft.operators.TextAnalysis.sourceDivergence(
          docs, "source", "text").count()
      },
      time("erasure_plan") {
        graft.warehouse.Erasure.erasurePlan(cust, ord, li,
          cust.filter($"c_custkey" % 97 === 0)
            .select($"c_custkey".as("k"))).count()
      },
      time("gini") {
        graft.operators.Stats.groupedGini(
          ord, "o_orderpriority", "o_totalprice").count()
      },
      time("mad_outliers") {
        val ev = spark.read.parquet(s"$out/events.parquet")
        graft.operators.Timeseries.madOutliers(
          ev, "event_type", "value").count()
      },
      time("doc_neighbors") {
        graft.operators.TextAnalysis.hashedNeighbors(
          docs, "doc_id", "text", $"doc_id" % 101 === 0, k = 5).count()
      },
      time("media_curation") {
        graft.operators.Multimodal.curateMedia(
          graft.operators.Multimodal.asMedia(
            docs, "doc_id", "text", "text/plain"), maxDist = 10).count()
      },
      time("image_decode") {
        // REAL ImageIO decode at the per-partition seam: synthesize a
        // PNG per doc (real JDK encoder) and decode it back — pure
        // map-side work, zero exchange; the slope is raw codec
        // throughput. The width sum forces the decode (a count could
        // not prove pixels were read).
        graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.syntheticImages(docs, "doc_id", "text"))
          .toDF().agg(sum($"width".cast("long"))).head().getLong(0)
      },
      time("audio_curation") {
        // real WAV encode + decode + exact collapse + envelope
        // near-dedup. The duplicated corpus is the ADVERSARIAL case:
        // copies share text but differ in formula length (id-derived),
        // so the exact stage can't fold them and the envelope stage's
        // banded hamming join carries the near-dup mass — the cap-less
        // bucket pathology probe for the audio path.
        graft.operators.Multimodal.curateAudioDecoded(
          graft.operators.Multimodal.syntheticAudio(docs, "doc_id", "text"),
          maxDist = 10).count()
      },
      time("video_scenes") {
        // REAL container + codec pass: per doc, assemble an MJPEG AVI
        // (2–5 solid 16×16 JPEG frames) and demux + decode it back —
        // map-only like image_decode, slope = RIFF walk + JPEG codec
        // throughput. The cut sum forces the decode.
        graft.operators.Multimodal.videoSceneStats(
          graft.operators.Multimodal.syntheticVideos(docs, "doc_id"))
          .agg(sum(col("n_cuts") + col("n_decoded"))).head().getLong(0)
      },
      time("multimodal_manifest") {
        // qm18's capstone chain: both real-codec curation ladders →
        // one cost-carrying stream → budget-packed shards. Slope =
        // image ladder + audio ladder (each dominated by decode +
        // banded hamming join) + the two-phase bucketed pack.
        val img = graft.operators.Multimodal.curateMediaDecoded(
          graft.operators.Multimodal.syntheticImages(docs, "doc_id", "text"),
          maxDist = 10)
          .select(($"media_id" * 2).as("uid"), $"n_px".as("cost"))
        val aud = graft.operators.Multimodal.curateAudioDecoded(
          graft.operators.Multimodal.syntheticAudio(docs, "doc_id", "text"),
          maxDist = 10)
          .select(($"media_id" * 2 + 1).as("uid"), $"n_samples".as("cost"))
        graft.operators.Sharding.tokenShardAssignments(
          img.unionByName(aud), "uid", $"cost", budget = 30000L)
          .groupBy($"shard").count().count()
      },
      time("audio_ingest_gate") {
        // qst32's feed over the staged corpus in 4 micro-batches: per
        // batch one AudioSystem decode pass, identity collapse,
        // anti-join vs the grown store. State = KB identity keys.
        runGate(audioGateIn.get,
          graft.streaming.EventStreams.audioIngestFeed(_, _))
      },
      time("video_ingest_gate") {
        // qst33's feed: RIFF demux + per-frame ImageIO decode per
        // batch, frame-stream identity keys, same gate shape.
        runGate(videoGateIn.get,
          graft.streaming.EventStreams.videoIngestFeed(_, _))
      },
      time("lsh_recall_sampled") {
        // qd40: truth side runs on a FIXED 250-doc hash-order sample —
        // sample²-bounded, so the slope should be the shared LSH
        // candidate machinery alone (compare lsh_recall_full, whose
        // exhaustive truth grows with Σ df² — the duplicated corpus
        // multiplies every shingle's df by the factor)
        Dedup.lshRecallSampled(docs, "doc_id", "text", sampleSize = 250)
          .count()
      },
      time("lsh_recall_full") {
        // qd37's exhaustive truth — the corpus-quadratic contrast the
        // sampled audit replaces at production scale. Expect
        // superlinear growth BY DESIGN; run at small factors only.
        Dedup.lshRecallReport(docs, "doc_id", "text").count()
      },
      time("nn_descent") {
        // the id remap keeps vec_ids dense (0..n·factor-1), so the ring
        // seed contract holds at every factor; candidate volume is
        // O(n·k²) per round — the slope should track n, never n²
        Similarity.nnDescentGraph(emb, "vec_id", "embedding",
          k = 5, rounds = 2).count()
      },
      time("importance_resample") {
        // two corpus-linear hash aggregates + a KB-sized bucket
        // broadcast; the duplicated corpus multiplies counts, not
        // buckets, so the slope is the token explode alone
        graft.operators.Curation.importanceResample(docs, "doc_id",
          "text", $"source" === "src0", buckets = 1024, keep = 100)
          .count()
      },
      time("span_rewrite") {
        // the duplicated corpus makes every gram corpus-duplicated —
        // the rewrite's worst case (every position covered); slope =
        // the gram explode + the (doc, pos) anti-join, both linear.
        // Aggregate over n_removed + the rewritten text, NOT count():
        // the final left-outer join is row-preserving (unique right
        // keys), so Catalyst correctly eliminates it under count(*)
        // and a bare count would time only the corpus scan
        graft.operators.Overlap.spanDedupRewrite(docs, "doc_id", "text",
          n = 5)
          .agg(sum($"n_removed" + length($"text")).cast("long"))
          .head().getLong(0)
      },
      time("graph_search") {
        // build O(n·k²) + 3 serve hops at |Q|·beam·(graphK+2) candidate
        // rows per hop — both linear in n; the id remap keeps vec_ids
        // dense so the ring backbone and hash seeds hold at any factor
        Similarity.graphSearchTopK(emb, "vec_id", "embedding",
          k = 5, beam = 8, hops = 3, graphK = 5, graphRounds = 2,
          nSeeds = 8).count()
      },
      time("ivf_insert") {
        // batch-proportional ingest: assignment against the FROZEN
        // broadcast centroids + a lazy union — the corpus-side index
        // is prebuilt and cached outside the timed region
        val baseE = emb.filter(pmod($"vec_id", lit(101)) =!= 0)
        val batchE = emb.filter(pmod($"vec_id", lit(101)) === 0)
        val idx0 = {
          val b = Similarity.buildIvfIndex(baseE, "vec_id", "embedding", 40)
          val p = Similarity.IvfIndex(
            graft.core.OpCache.persist(b.centroids),
            graft.core.OpCache.persist(b.cells))
          p.centroids.count(); p.cells.count(); p
        }
        Similarity.ivfInsert(idx0, batchE, "vec_id", "embedding")
          .cells.count()
      },
      time("write_conflicts") {
        val ev = spark.read.parquet(s"$out/events.parquet")
        graft.warehouse.Cdc.writeConflictAudit(
          ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 === 1),
          Seq("user_id"), Seq($"ts", $"event_id"),
          $"event_type" === "error", Seq("event_type", "value")).count()
      },
      time("erasure_audit") {
        graft.warehouse.Erasure.erasureAudit(cust, ord, li,
          cust.filter($"c_custkey" % 97 === 0)
            .select($"c_custkey".as("k"))).count()
      },
      time("oph_minhash") {
        // one hash per shingle vs minhash_lsh's k affine rehashes —
        // the slope should match minhash_lsh with a smaller constant
        Dedup.ophNearDupPairs(docs, "doc_id", "text").count()
      },
      time("token_shards") {
        // two-phase global cumsum: per-bucket windows (16-way) + a
        // 16-row offset fold — slope = one shuffle on the bucket key
        graft.operators.Sharding.tokenShards(docs, "doc_id",
          size(split($"text", " ")).cast("long"), budget = 100000L)
          .count()
      },
      time("retract_agg") {
        // linear delta fold: changelog → signed deltas → two hash
        // aggs; the duplicated events multiply delta rows, never
        // group count — slope is the scan + map-side combine
        val ev = spark.read.parquet(s"$out/events.parquet")
        val log = ev.select(lit("I").as("op"), $"event_type".as("grp"),
            $"value".as("val"), lit(null).cast("string").as("bgrp"),
            lit(null).cast("double").as("bval"))
          .unionByName(ev.filter($"event_type" === "error")
            .select(lit("D").as("op"), lit(null).cast("string").as("grp"),
              lit(null).cast("double").as("val"), $"event_type".as("bgrp"),
              $"value".as("bval")))
        val d = graft.warehouse.Cdc.retractDeltas(log,
          $"op", $"grp", $"val", $"bgrp", $"bval")
        val st = d.groupBy($"grp").agg(sum($"dn").cast("long").as("n"),
          sum($"dv").as("v"))
        graft.warehouse.Cdc.retractMerge(st, d).count()
      },
      time("scorer_auc") {
        // one hash agg on distinct scores + bucketed prefix sums —
        // slope should be the scan alone
        val t2 = split(coalesce($"text", lit("")), " ")
        graft.operators.Eval.aucReport(
          docs.select((size(array_distinct(t2)).cast("double") /
            size(t2).cast("double")).as("score"),
            ($"lang" === "en").cast("int").as("label")),
          "label", "score").count()
      },
      time("pca_power3") {
        // 3 power-iteration rounds = 6 linear passes + dim-row model
        // updates; slope is the per-round corpus passes
        val r = Similarity.pcaProjection(docs.sparkSession.read
          .parquet(s"$out/embeddings.parquet"), "vec_id", "embedding",
          iters = 3).count()
        graft.core.OpCache.releaseAll()
        r
      },
      time("waterfill_mix") {
        // one per-source hash agg + |sources|-row rounds + the
        // grouped two-phase prefix cut — slope is the two corpus
        // passes
        val r = graft.operators.Curation.waterfilledMix(
          docs, "doc_id", "source",
          size(split($"text", " ")).cast("long"),
          Map("src0" -> 400, "src1" -> 300, "src2" -> 200),
          defaultWeight = 10, budget = 20000L).count()
        graft.core.OpCache.releaseAll()
        r
      },
      time("semantic_leakage") {
        // broadcast benchmark × one linear corpus pass, map-side max
        val em2 = docs.sparkSession.read.parquet(s"$out/embeddings.parquet")
        Similarity.semanticLeakageReport(
          em2.filter(pmod($"vec_id", lit(50)) =!= 0),
          em2.filter(pmod($"vec_id", lit(50)) === 0),
          "vec_id", "embedding", threshold = 0.5).count()
      },
      time("export_manifest") {
        // the full composed lifecycle + sequence sharding — the slope
        // should equal the decontaminated pipeline's (the sharding
        // stage is manifest-sized after the round-8 lineage cuts).
        // maxSharedFp is loosened here: the duplicated smoke corpus
        // puts ~20% of distinct TEXTS into the id-sampled benchmark,
        // so the production threshold would empty the pool and
        // short-circuit the very stages being timed — the audit
        // stage still runs at full cost, it just excludes nothing
        val r = graft.operators.Curation.exportManifest(
          docs.filter(pmod($"doc_id", lit(50)) =!= 0),
          docs.filter(pmod($"doc_id", lit(50)) === 0),
          "doc_id", "text", "lang", "source", Seq("en", "es", "fr"),
          Map("src0" -> 900, "src1" -> 700, "src2" -> 500, "src3" -> 200),
          defaultPermille = 100, maxLen = 1024, nStrata = 4,
          maxSharedFp = Long.MaxValue, shardBudget = 1024L).count()
        graft.core.OpCache.releaseAll()
        r
      })

    val total = results.map(_._2).sum
    val qs = results.map { case (k, v, n) => s""""$k":{"sec":$v,"rows":$n}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_smoke","factor":$factor,"total_sec":$total,"ops":$qs}""")
    spark.stop()
  }
}

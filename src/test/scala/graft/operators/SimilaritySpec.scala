package graft.operators

import graft.SparkSuite

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  // deterministic pseudo-random unit-ish vectors
  private val dim = 8
  private val vecs: Seq[(Long, Array[Float])] = (0L until 20L).map { id =>
    val arr = Array.tabulate(dim)(j =>
      (math.sin(id * 31 + j * 7).toFloat + (if (id % 5 == j % 5) 1.5f else 0f)))
    id -> arr
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    (0 until dim).foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("labelCentroids computes per-dimension means with full coverage") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 6.0f)),
      (1, Array(10.0f, 20.0f))
    ).toDF("label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .collect().map(r =>
        (r.getInt(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got == Map(
      (0, 0L) -> (2.0, 2L), (0, 1L) -> (4.0, 2L),
      (1, 0L) -> (10.0, 1L), (1, 1L) -> (20.0, 1L)))
  }

  test("bruteForceTopK matches a naive driver-side computation") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    vecs.foreach { case (id, a) =>
      val want = vecs.filter(_._1 != id)
        .map { case (oid, b) => (oid, cosine(a, b)) }
        .sortBy { case (oid, c) => (-c, oid) }
        .take(3).map(_._1)
      assert(got(id) == want, s"query $id")
    }
  }

  test("lshBucketedNearDup: identical vectors share a bucket and pair up") {
    val v = Array.tabulate(dim)(i => i.toFloat + 1)
    val df = (vecs :+ (100L -> v) :+ (101L -> v)).toDF("vec_id", "embedding")
    val pairs = Similarity.lshBucketedNearDup(df, "vec_id", "embedding",
      threshold = 0.99, nPlanes = 4, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((100L, 101L)))
  }

  test("default entry points dispatch to bucketed plans; exact is opt-in") {
    val df = vecs.toDF("vec_id", "embedding")
    // default = IVF multi-probe, exact = brute force — dispatch identity
    assert(rowsOf(Similarity.topK(df, "vec_id", "embedding", k = 3)) ==
      rowsOf(Similarity.ivfTopK(df, "vec_id", "embedding", k = 3)))
    assert(rowsOf(Similarity.topK(df, "vec_id", "embedding", k = 3, exact = true)) ==
      rowsOf(Similarity.bruteForceTopK(df, "vec_id", "embedding", k = 3)))
    // the default near-dup path must not plan a corpus×corpus
    // nested-loop join (the LSH bucket join is an equi-join; the only
    // acceptable nested-loop anywhere is against a broadcast
    // centroid/plane table, which this path doesn't use)
    val ndPlan = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.99)
      .queryExecution.executedPlan.toString
    assert(!ndPlan.contains("BroadcastNestedLoopJoin"), ndPlan.take(500))
    assert(rowsOf(Similarity.nearDupPairs(df, "vec_id", "embedding", 0.99, exact = true)) ==
      rowsOf(Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.99)))
  }

  test("dedupEmbeddings keeps the lower id of colliding near-identical vectors") {
    val v = Array.tabulate(dim)(i => i.toFloat + 1)
    val df = (vecs :+ (100L -> v) :+ (101L -> v)).toDF("vec_id", "embedding")
    val kept = Similarity.dedupEmbeddings(df, "vec_id", "embedding",
      threshold = 0.99, nPlanes = 4, dim = dim)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(100L) && !kept.contains(101L))
    // every dropped id is the higher member of some verified pair
    val pairs = Similarity.lshBucketedNearDup(df, "vec_id", "embedding",
      threshold = 0.99, nPlanes = 4, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val allIds = vecs.map(_._1).toSet + 100L + 101L
    assert(allIds -- kept == pairs.map(_._2).toSet)
  }

  test("ivfTopK returns neighbors only from the query's cell, ranked") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(df, "vec_id", "embedding", k = 3, centroidStride = 7)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // ranks are 1..k, no self pairs
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 3)
      assert(r.getLong(0) != r.getLong(1))
    }
  }

  test("IvfIndex parquet round-trip answers identically to fresh build") {
    val df = vecs.toDF("vec_id", "embedding")
    val fresh = Similarity.ivfTopK(df, "vec_id", "embedding",
      k = 3, centroidStride = 7, nProbe = 2).collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivf_rt").toString
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(df, "vec_id", "embedding", centroidStride = 7), dir)
    val idx = Similarity.readIvfIndex(spark, dir)
    val stored = Similarity.ivfTopKWithIndex(idx, df, "vec_id", "embedding",
      k = 3, nProbe = 2).collect().map(_.toSeq).toSet
    assert(stored == fresh,
      "searching the reloaded index must reproduce the fresh search exactly")
    // the stored index serves a DIFFERENT query set without rebuild
    val queries = vecs.take(4).toDF("vec_id", "embedding")
    val qres = Similarity.ivfTopKWithIndex(idx, queries, "vec_id", "embedding",
      k = 3, nProbe = 2)
    assert(qres.select("vec_id").distinct().count() == 4)
  }

  test("ivfInsert: insert-then-serve equals full rebuild when strides align") {
    import org.apache.spark.sql.functions.col
    val df = vecs.toDF("vec_id", "embedding")
    // stride 7 centroids are ids 0,7,14 — none ≡ 3 (mod 5), so the
    // base (ids % 5 != 3) picks the same centroid set as the full
    // corpus and the incremental index must equal the rebuilt one
    val base = df.filter(col("vec_id") % 5 =!= 3)
    val batch = df.filter(col("vec_id") % 5 === 3)
    val inc = Similarity.ivfInsert(
      Similarity.buildIvfIndex(base, "vec_id", "embedding", centroidStride = 7),
      batch, "vec_id", "embedding")
    val full = Similarity.buildIvfIndex(df, "vec_id", "embedding",
      centroidStride = 7)
    assert(rowsOf(inc.cells) == rowsOf(full.cells))
    assert(rowsOf(
      Similarity.ivfTopKWithIndex(inc, df, "vec_id", "embedding", 3, 2)) ==
      rowsOf(
        Similarity.ivfTopKWithIndex(full, df, "vec_id", "embedding", 3, 2)))
  }

  test("trainIvfCentroids: Lloyd update is the per-cell mean; deterministic") {
    // one seed (stride > max id would drop all; use stride 100 with id 0
    // present) -> every vector assigns to it, round-1 centroid = the
    // elementwise mean of ALL vectors, cast to float
    val df = vecs.toDF("vec_id", "embedding")
    val trained = Similarity.trainIvfCentroids(df, "vec_id", "embedding",
      centroidStride = 100, iters = 1).collect()
    assert(trained.length == 1 && trained.head.getLong(0) == 0L)
    val got = trained.head.getSeq[Float](1)
    // replay the operator's DECIMAL(30,6) discipline: each element
    // quantizes to 6 decimals, sums exactly, one IEEE division, float
    val expect = (0 until dim).map { j =>
      val sumBD = vecs.map(v => BigDecimal(v._2(j).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      (sumBD.toDouble / vecs.size).toFloat
    }
    assert(got == expect, s"$got vs $expect")
    // fixed rounds + decimal sums: two runs agree bit-exactly
    val a = Similarity.kmeansIvfIndex(df, "vec_id", "embedding", 7, 2)
      .cells.select("vec_id", "cent_id").collect().map(_.toSeq).toSet
    val b = Similarity.kmeansIvfIndex(df, "vec_id", "embedding", 7, 2)
      .cells.select("vec_id", "cent_id").collect().map(_.toSeq).toSet
    assert(a == b)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("scalarQuantTopK: tinyint codes, clamped range, exact-rank agreement") {
    import org.apache.spark.sql.functions.col
    val df = vecs.toDF("vec_id", "embedding")
    // codes are genuinely int8: array<tinyint>, every value in [-127, 127]
    val qv = Similarity.sqQuantize(df, "vec_id", "embedding",
      Similarity.sqCalibrate(df, "embedding"))
    assert(qv.schema("q").dataType.simpleString == "array<tinyint>")
    val codes = qv.collect().flatMap(_.getSeq[Byte](1))
    assert(codes.forall(c => c >= -127 && c <= 127))
    // the max-magnitude element of each dim quantizes to ±127 (calibration
    // maps the observed range onto the full code range)
    assert(codes.exists(c => c == 127 || c == -127))
    // quantized ranking ≈ exact ranking: with 8 dims and int8 codes the
    // top-1 neighbor must agree with bruteForceTopK for most queries
    val queries = df.filter(col("vec_id") % 5 === 0)
    val sq = Similarity.scalarQuantTopK(df, queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = sq.count { case (q, nbr) => exact(q) == nbr }
    assert(agree >= sq.size - 1, s"top-1 agreement $agree/${sq.size}")
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("ivfSqTopK: probes cells like IVF, ranks by integer dot, deterministic") {
    val df = vecs.toDF("vec_id", "embedding")
    val sq = Similarity.ivfSqTopK(df, "vec_id", "embedding",
      k = 3, centroidStride = 7, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every query emits at most k ranked rows, ranks contiguous from 1
    val byQuery = sq.groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length), s"query $q")
    }
    // candidate set ⊆ the float-IVF candidate set at the same probes:
    // both probe identical cells (float cosine picks cells in both)
    val fl = Similarity.ivfTopK(df, "vec_id", "embedding",
      k = 20, centroidStride = 7, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sq.forall { case (q, n, _) => fl.contains((q, n)) })
    val again = Similarity.ivfSqTopK(df, "vec_id", "embedding",
      k = 3, centroidStride = 7, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sq.toSet == again.toSet)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("SqIndex parquet round-trip answers identically to fresh build") {
    import org.apache.spark.sql.functions.col
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 5 === 0)
    val fresh = Similarity.scalarQuantTopK(df, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("sq_rt_").toString
    Similarity.writeSqIndex(Similarity.buildSqIndex(df, "vec_id", "embedding"), dir)
    val reloaded = Similarity.readSqIndex(spark, dir)
    val stored = Similarity.scalarQuantTopKWithIndex(
      reloaded, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stored == fresh)
    // stored codes are tinyint on disk — the 4x compression is real
    assert(reloaded.codes.schema("q").dataType.simpleString == "array<tinyint>")
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("sqCalibrate: zero dimension gets scale 1 (no divide-by-zero)") {
    val df = Seq(
      (0L, Array(0.0f, 2.0f)), (1L, Array(0.0f, -4.0f))
    ).toDF("vec_id", "embedding")
    val scales = Similarity.sqCalibrate(df, "embedding")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(scales == Map(0 -> 1.0, 1 -> 4.0))
    val qv = Similarity.sqQuantize(df, "vec_id", "embedding",
      Similarity.sqCalibrate(df, "embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(qv(0L) == Seq[Byte](0, 64) && qv(1L) == Seq[Byte](0, -127))
  }

  test("multiTableLshNearDup: union recall, verified once, dedup'd pairs") {
    // identical vectors collide in EVERY table yet emit exactly one pair
    val base = Array.tabulate(8)(j => 0.3f + 0.1f * j)
    val df = (Seq((0L, base), (1L, base)) ++
      vecs.drop(2).map { case (id, v) => (id, v) }).toDF("vec_id", "embedding")
    val pairs = Similarity.multiTableLshNearDup(df, "vec_id", "embedding",
      threshold = 0.99, nPlanes = 6, nTables = 3, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.count(_ == (0L, 1L)) == 1,
      s"identical pair must appear exactly once, got ${pairs.toList}")
    // with one table, results equal the per-table candidate set verified
    val one = Similarity.multiTableLshNearDup(df, "vec_id", "embedding",
      threshold = 0.5, nPlanes = 6, nTables = 1, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val three = Similarity.multiTableLshNearDup(df, "vec_id", "embedding",
      threshold = 0.5, nPlanes = 6, nTables = 3, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one.subsetOf(three), "extra tables can only ADD verified pairs")
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("pqTopK: exhaustive codebook (stride=1, iters=0) is exact L2") {
    // with every vector a seed and no Lloyd rounds, each subvector's
    // code reconstructs an identical subvector (d2=0 assignment), so
    // the ADC table-lookup sum IS the true squared L2 distance — the
    // composition must reproduce exact L2 ranking
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, df, "vec_id", "embedding", k = 3,
      nSub = 4, dim = 8, centroidStride = 1, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      (0 until dim).map { i =>
        val d = a(i).toDouble - b(i).toDouble; d * d
      }.sum
    vecs.foreach { case (id, a) =>
      val want = vecs.filter(_._1 != id)
        .map { case (oid, b) => (oid, l2(a, b)) }
        .sortBy { case (oid, d) => (d, oid) }
        .take(3).map(_._1)
      assert(got(id) == want, s"query $id")
    }
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("ivfPqTopK: probes restrict candidates to IVF cells; ranks by ADC") {
    val df = vecs.toDF("vec_id", "embedding")
    // with every vector its own IVF centroid and an exhaustive PQ
    // codebook, nProbe spanning all cells makes IVF-PQ exact L2 too
    val got = Similarity.ivfPqTopK(df, "vec_id", "embedding", k = 3,
      centroidStride = 1, nProbe = vecs.size,
      nSub = 4, dim = 8, pqStride = 1, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      (0 until dim).map { i =>
        val d = a(i).toDouble - b(i).toDouble; d * d
      }.sum
    vecs.foreach { case (id, a) =>
      val want = vecs.filter(_._1 != id)
        .map { case (oid, b) => (oid, l2(a, b)) }
        .sortBy { case (oid, d) => (d, oid) }
        .take(3).map(_._1)
      assert(got(id) == want, s"query $id")
    }
    // with a single probe, every neighbor must come from the query's
    // own (nearest-centroid) cell — the candidate-restriction contract
    val one = Similarity.ivfPqTopK(df, "vec_id", "embedding", k = 3,
      centroidStride = 5, nProbe = 1, nSub = 4, dim = 8,
      pqStride = 5, iters = 1)
    assert(one.count() > 0)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("PqIndex parquet round-trip answers identically to fresh build") {
    val df = vecs.toDF("vec_id", "embedding")
    val fresh = Similarity.buildPqIndex(df, "vec_id", "embedding",
      nSub = 4, dim = 8, centroidStride = 5, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_").toString
    Similarity.writePqIndex(fresh, dir)
    val stored = Similarity.readPqIndex(spark, dir)
    val a = rowsOf(Similarity.pqAdcTopKWithIndex(fresh, df,
      "vec_id", "embedding", k = 3, nSub = 4, dim = 8))
    val b = rowsOf(Similarity.pqAdcTopKWithIndex(stored, df,
      "vec_id", "embedding", k = 3, nSub = 4, dim = 8))
    assert(a == b && a.nonEmpty)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("scalarQuantRerankTopK: overfetch covering the corpus equals exact") {
    val df = vecs.toDF("vec_id", "embedding")
    // overfetch window spans the whole corpus → the rerank sees every
    // candidate, so the composition must reproduce brute force exactly
    val rr = rowsOf(Similarity.scalarQuantRerankTopK(
      df, df, "vec_id", "embedding", k = 3, overfetch = 20))
    val exact = rowsOf(Similarity.bruteForceTopK(df, "vec_id", "embedding", k = 3))
    assert(rr == exact)
    // small overfetch still returns exactly k rows per query, ranked 1..k
    val tight = Similarity.scalarQuantRerankTopK(
      df, df, "vec_id", "embedding", k = 3, overfetch = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(tight.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.sameElements(Array(1L, 2L, 3L)) })
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("semanticDedup drops the higher id of a within-cell duplicate pair") {
    // id 0 is the sole stride centroid (0 % 40 == 0) -> everyone lands
    // in one cell; 100/101 are identical clones, 101 must be dropped
    val clone = Array.tabulate(dim)(i => i.toFloat + 1)
    val df = (vecs :+ (100L -> clone) :+ (101L -> clone))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding",
      threshold = 0.999999, centroidStride = 40)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(100L) && !kept.contains(101L), kept.toString)
    assert(kept.size == df.count() - 1)
    // maxCell=1: nobody has an in-cap partner, so nothing is dropped
    val capped = Similarity.semanticDedup(df, "vec_id", "embedding",
      threshold = 0.999999, centroidStride = 40, maxCell = 1)
    assert(capped.count() == df.count())
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("randomProjectTopK: exact dup ranks first; partitioning-invariant") {
    // projected cosine of identical vectors is exactly 1.0 — a planted
    // clone must be the clone-query's rank-1 neighbor in ANY projection
    val clone = vecs.head._2.clone()
    val df = (vecs :+ (100L -> clone)).toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" === 100L)
    val got = Similarity.randomProjectTopK(df, qs, "vec_id", "embedding",
      kProj = 6, k = 3, dim = dim)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.find(_._2 == 1L).map(_._1).contains(0L),
      s"clone of id 0 must rank first: ${got.toSeq}")
    // bit-identical under a different partitioning
    val re = Similarity.randomProjectTopK(
      df.repartition(7), qs, "vec_id", "embedding", kProj = 6, k = 3, dim = dim)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq.sorted == re.toSeq.sorted)
  }

  test("filteredIvfTopK returns only same-label neighbors; exhaustive probe = filtered brute force") {
    val labeled = vecs.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
    val queries = labeled.filter($"vec_id" < 4)
    // stride 1 → every vector is a centroid; nProbe = 20 → every cell
    // probed: the IVF result must equal the filtered exact answer
    val got = Similarity.filteredIvfTopK(labeled, "vec_id", "embedding",
      "label", queries, k = 3, centroidStride = 1, nProbe = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val labelOf = vecs.map { case (id, _) => id -> (id % 3).toInt }.toMap
    assert(got.forall { case (q, n, _) => labelOf(q) == labelOf(n) },
      s"cross-label neighbor leaked: ${got.toSeq}")
    val expect = (0L until 4L).flatMap { q =>
      vecs.filter { case (id, _) => id != q && labelOf(id) == labelOf(q) }
        .map { case (id, v) => (id, cosine(vecs(q.toInt)._2, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => (q, id, (i + 1).toLong) }
    }.toSet
    assert(got.toSet === expect)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("hardNegatives returns only cross-label neighbors; exhaustive probe = filtered brute force") {
    val labeled = vecs.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
    val queries = labeled.filter($"vec_id" < 4)
    // stride 1 / nProbe = 20 → exhaustive probing: result must equal
    // the label-excluding exact answer
    val got = Similarity.hardNegatives(labeled, "vec_id", "embedding",
      "label", queries, k = 3, centroidStride = 1, nProbe = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val labelOf = vecs.map { case (id, _) => id -> (id % 3).toInt }.toMap
    assert(got.forall { case (q, n, _) => labelOf(q) != labelOf(n) },
      s"same-label neighbor leaked: ${got.toSeq}")
    val expect = (0L until 4L).flatMap { q =>
      vecs.filter { case (id, _) => labelOf(id) != labelOf(q) }
        .map { case (id, v) => (id, cosine(vecs(q.toInt)._2, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => (q, id, (i + 1).toLong) }
    }.toSet
    assert(got.toSet === expect)
    // a null-label query mines nothing; null-label corpus rows are
    // never offered as negatives
    val withNull = vecs.map { case (id, v) =>
      (id, v, if (id == 0L || id == 5L) null
        else java.lang.Integer.valueOf((id % 3).toInt))
    }.toDF("vec_id", "embedding", "label")
    val gotNull = Similarity.hardNegatives(withNull, "vec_id", "embedding",
      "label", withNull.filter($"vec_id" < 4), k = 3,
      centroidStride = 1, nProbe = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!gotNull.exists { case (q, _) => q == 0L })
    assert(!gotNull.exists { case (_, n) => n == 0L || n == 5L })
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("mmrTopK diversifies: near-duplicate of the first pick is deferred") {
    // query along e1; A and A2 nearly parallel (sim ≈ 0.995), B points
    // away. Pure rel top-2 = (A, A2); MMR at lambda 0.5 must pick B
    // second because A2's similarity penalty cancels its relevance.
    val corpus = Seq(
      (10L, Array(0.9f, 0.4359f, 0f, 0f)),   // A: rel ≈ 0.90
      (11L, Array(0.9f, 0.43f, 0.1f, 0f)),   // A2 ≈ A, rel ≈ 0.898
      (12L, Array(0.5f, 0f, 0.866f, 0f))     // B: rel = 0.5, sim(B,A) ≈ 0.45
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(corpus, queries, "vec_id", "embedding",
      candK = 3, k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(got.toSeq == Seq((100L, 10L, 1L), (100L, 12L, 2L), (100L, 11L, 3L)),
      got.mkString(","))
    // lambda = 1.0 degenerates to pure relevance order
    val rel = Similarity.mmrTopK(corpus, queries, "vec_id", "embedding",
      candK = 3, k = 3, lambda = 1.0)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(rel.map(_._1).toSeq == Seq(10L, 11L, 12L), rel.mkString(","))
    // a query with fewer candidates than k yields what exists
    val tiny = Similarity.mmrTopK(corpus.filter($"vec_id" === 10L), queries,
      "vec_id", "embedding", candK = 3, k = 3)
    assert(tiny.count() == 1)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("semanticLeakageReport: a planted copy leaks, orthogonal items don't") {
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.6f, 0.8f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),   // exact copy of corpus 1 → leaked
      (101L, Array(0f, 0f, 0f, 1f))    // orthogonal to everything
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticLeakageReport(corpus, bench,
      "vec_id", "embedding", threshold = 0.95)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    graft.core.OpCache.releaseAll(blocking = true)
    assert(got(100L) == ((1L, 1.0, true)))
    assert(got(101L)._2 == 0.0 && !got(101L)._3)
    // tie on cosine (101 is equidistant from all) breaks to smallest id
    assert(got(101L)._1 == 1L)
  }

  test("ivfIndexStats: population, dead cells, and skew from metadata only") {
    val cents = Seq((1L, Array(1f), 1.0), (2L, Array(1f), 1.0),
      (3L, Array(1f), 1.0)).toDF("cent_id", "cemb", "cnrm")
    val cells = Seq((10L, 1L), (11L, 1L), (12L, 2L))
      .toDF("vec_id", "cent_id")
    val r = Similarity.ivfIndexStats(
      Similarity.IvfIndex(cents, cells)).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 3L, 1L, 2L, 1L)),
      "2 live cells, 3 vectors, min 1, max 2, 1 dead centroid")
    assert(r.getDouble(5) == 1.5)           // mean
    assert(r.getDouble(6) == 1.333333)      // max/mean = 2/1.5
  }

  test("splitHotCells: hot cell partitions into two children, cold passes through") {
    // cell 1: five members clustered in two directions (3 near e1,
    // 2 near e2) — hot at maxCell 3; cell 9: two members — cold
    val cells = Seq(
      (10L, Array(1f, 0.0f, 0f, 0f), 1L),
      (11L, Array(1f, 0.1f, 0f, 0f), 1L),
      (12L, Array(1f, -0.1f, 0f, 0f), 1L),
      (13L, Array(0.1f, 1f, 0f, 0f), 1L),
      (14L, Array(-0.1f, 1f, 0f, 0f), 1L),
      (20L, Array(0f, 0f, 1f, 0f), 9L),
      (21L, Array(0f, 0f, 1f, 0.1f), 9L)
    ).map { case (id, v, c) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      (id, v, n, c)
    }.toDF("vec_id", "embedding", "nrm", "cent_id")
    val cents = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 1.0),
      (9L, Array(0f, 0f, 1f, 0f), 1.0)).toDF("cent_id", "cemb", "cnrm")
    val split = Similarity.splitHotCells(
      Similarity.IvfIndex(cents, cells), maxCell = 3)
    val pops = split.cells.groupBy($"cent_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cold cell 9 → id 18 untouched; hot cell 1 → children 2 and 3
    assert(pops(18L) == 2L, pops.toString)
    assert(pops.keySet == Set(2L, 3L, 18L), pops.toString)
    assert(pops(2L) + pops(3L) == 5L, "no hot member lost")
    // the e1-leaning members and e2-leaning members separate
    val assign = split.cells.filter($"cent_id".isin(2L, 3L))
      .select($"vec_id", $"cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Set(assign(10L), assign(11L), assign(12L)).size == 1)
    assert(Set(assign(13L), assign(14L)).size == 1)
    assert(assign(10L) != assign(13L), "the two directions must split apart")
    // centroid table covers exactly the new ids
    val cids = split.centroids.select($"cent_id").collect()
      .map(_.getLong(0)).toSet
    assert(cids == Set(2L, 3L, 18L), cids.toString)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("recallReportSampled: full sample reproduces the exhaustive audit") {
    val em = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.37 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(em, "vec_id", "embedding", 5)
      .select($"vec_id", $"nbr_id")
    val ivf = Similarity.ivfTopK(em, "vec_id", "embedding", 5,
      centroidStride = 20, nProbe = 2).select($"vec_id", $"nbr_id")
    val hits = ivf.intersect(exact).count()
    // sample ⊇ corpus → the estimate IS the exhaustive number
    val r = Similarity.recallReportSampled(em, "vec_id", "embedding",
      k = 5, centroidStride = 20, nProbe = 2, sampleSize = 1000)
      .collect()(0)
    assert(r.getLong(0) == 60L, "sample_n = all 60 vectors")
    assert(r.getLong(1) == 300L, "n_truth = 60 queries x 5 exact pairs")
    assert(r.getLong(2) == hits, "hits must equal the exhaustive intersect")
    assert(r.getDouble(3) ==
      BigDecimal(hits.toDouble / 300.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("semanticLeakageReportIndexed: all-cells probe equals the linear scan") {
    // 40 corpus vectors on a ring, 2 centroids (stride 20), 4 bench
    // probes; probing EVERY cell must reproduce the exact linear-scan
    // report row for row — the IVF routing only prunes, never rescores
    val corpus = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f, 0f)),
      (102L, Array(0f, 0f, 1f, 0f)),
      (103L, Array(-0.7f, -0.7f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val exact = Similarity.semanticLeakageReport(corpus, bench,
      "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      centroidStride = 20)
    val viaIdx = Similarity.semanticLeakageReportIndexed(idx, bench,
      "vec_id", "embedding", threshold = 0.9, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    assert(viaIdx == exact, s"all-cells probe must equal linear scan:\n$viaIdx\n$exact")
    // nProbe = 1 restricts each bench item to one cell's members —
    // the reported neighbor must come from the probed cell
    val one = Similarity.semanticLeakageReportIndexed(idx, bench,
      "vec_id", "embedding", threshold = 0.9, nProbe = 1)
    assert(one.count() == 4)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("semanticLeakageReportIndexed: colliding ids across independent id spaces") {
    // Decontamination orientation: bench and corpus come from SEPARATE
    // tables, so an id collision is a coincidence — the leak must still
    // be reported. Corpus doc 7 is (1,0,0,0); bench item 7 is the SAME
    // direction (a paraphrase that landed on the same surrogate key).
    val corpus = Seq(
      (7L, Array(1f, 0f, 0f, 0f)),
      (8L, Array(0f, 1f, 0f, 0f)),
      (9L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val bench = Seq((7L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      centroidStride = 1)
    val all = Similarity.semanticLeakageReportIndexed(idx, bench,
      "vec_id", "embedding", threshold = 0.9, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(all.toSeq == Seq((7L, 7L, true)),
      s"colliding id must still surface the leak (default excludeSelf=false): ${all.toSeq}")
    // Recall-audit orientation: the query set IS drawn from the index's
    // members — there id equality identifies the same stored vector and
    // excludeSelf=true must suppress the trivial self-match.
    val self = Similarity.semanticLeakageReportIndexed(idx, bench,
      "vec_id", "embedding", threshold = 0.9, nProbe = 3,
      excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!self.contains((7L, 7L)),
      s"excludeSelf=true must drop the id-equal pair: ${self.toSeq}")
    graft.core.OpCache.releaseAll(blocking = true)
  }
}

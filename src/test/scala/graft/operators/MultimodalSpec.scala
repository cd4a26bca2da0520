package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  // one REAL 4×3 grayscale PNG (JDK encoder), one truncated JPEG
  // header (sniffs jpeg, fails decode), one plain-text payload
  private val realPngPixels = Array(
    10, 20, 30, 40,
    50, 60, 70, 80,
    90, 100, 110, 120)
  private def media = {
    val png = Multimodal.encodeGrayPng(4, 3, realPngPixels)
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 9, 9)
    val other = "plain text bytes".getBytes("UTF-8")
    Seq((1L, png), (2L, jpg), (3L, other)).toDF("media_id", "bytes")
      .withColumn("mime", lit("application/octet-stream"))
      .withColumn("meta", map(lit("k"), lit("v")))
  }

  test("format sniffing from magic bytes") {
    assert(Multimodal.sniffFormat(Array(0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4)) == "png")
    assert(Multimodal.sniffFormat(Array(0xff.toByte, 0xd8.toByte, 0x00)) == "jpeg")
    assert(Multimodal.sniffFormat("RIFF....".getBytes) == "riff")
    assert(Multimodal.sniffFormat("GIF89a..".getBytes) == "gif")
    assert(Multimodal.sniffFormat("BM......".getBytes) == "bmp")
  }

  test("feature extraction: REAL decode dims for images, honest zeros otherwise") {
    val feats = Multimodal.extractFeatures(media)
    assert(feats.columns.toSeq == Seq("media_id", "format", "n_bytes",
      "entropy", "mean_byte", "width", "height", "mean_luma"))
    val byId = feats.collect().map(f => f.media_id -> f).toMap
    // the real PNG decodes: TRUE dimensions and the exact pixel mean
    assert(byId(1L).format == "png")
    assert((byId(1L).width, byId(1L).height) == (4, 3))
    assert(byId(1L).mean_luma == realPngPixels.sum.toDouble / realPngPixels.length)
    // a sniffed-jpeg payload that cannot decode reports 0×0, not a guess
    assert(byId(2L).format == "jpeg")
    assert((byId(2L).width, byId(2L).height, byId(2L).mean_luma) == (0, 0, 0.0))
    assert(byId(3L).n_bytes == 16)
    assert(byId(3L).entropy > 0)
    assert((byId(3L).width, byId(3L).height) == (0, 0))
    // determinism: same bytes, same features
    val again = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(again == byId)
  }

  test("encodeGrayPng → decodeLuma round-trips pixels exactly (lossless codec)") {
    val d = Multimodal.decodeLuma(Multimodal.encodeGrayPng(4, 3, realPngPixels)).get
    assert((d.width, d.height) == (4, 3))
    assert(d.lumaMilli.toSeq == realPngPixels.map(_ * 1000).toSeq)
  }

  test("decodeLuma reads RGB rasters with integer Rec.601 weights") {
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, (200 << 16) | (100 << 8) | 50) // R=200 G=100 B=50
    img.setRGB(1, 0, (0 << 16) | (255 << 8) | 0)    // pure green
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val d = Multimodal.decodeLuma(out.toByteArray).get
    assert((d.width, d.height) == (2, 1))
    assert(d.lumaMilli(0) == 299 * 200 + 587 * 100 + 114 * 50)
    assert(d.lumaMilli(1) == 587 * 255)
  }

  test("decodeLuma: non-image and corrupt payloads return None, never throw") {
    assert(Multimodal.decodeLuma("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeLuma(Array.emptyByteArray).isEmpty)
    // valid PNG magic, garbage body
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G',
      0x0d, 0x0a, 0x1a, 0x0a, 1, 2, 3)
    assert(Multimodal.decodeLuma(corrupt).isEmpty)
  }

  test("frame sampling emits the expected cadence") {
    val frames = Multimodal.sampleFrames(media, everyN = 30, maxFrames = 4)
    val f1 = frames.filter("media_id = 1").collect().map(_.getLong(1))
    assert(f1.toSeq == Seq(0L, 30L, 60L, 90L))
  }

  test("resize plan preserves aspect ratio, never upscales, 0×0 passes through") {
    val big = Multimodal.encodeGrayPng(400, 100, Array.fill(40000)(128))
    val feats = Multimodal.extractFeatures(
      media.unionByName(Seq((4L, big)).toDF("media_id", "bytes")
        .withColumn("mime", lit("image/png"))
        .withColumn("meta", map(lit("k"), lit("v")))))
    val plans = Multimodal.resizePlan(feats, maxSide = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    val dims = feats.collect().map(f => f.media_id -> (f.width, f.height)).toMap
    dims.foreach { case (id, (w, h)) =>
      val (tw, th, scale) = plans(id)
      assert(scale <= 1.0) // never upscale
      assert(math.max(tw, th) <= 256)
      if (w == 0 || h == 0) {
        assert((tw, th, scale) == (0, 0, 1.0)) // undecodable: nothing to plan
      } else {
        assert(tw == math.max(1, math.round(w * scale).toInt))
        assert(th == math.max(1, math.round(h * scale).toInt))
        if (math.max(w, h) <= 256) assert((tw, th) == (w, h)) // small stays
      }
    }
    // the 400×100 image scales to the 256 cap, aspect kept
    assert(plans(4L) == (256, 64, 0.64))
  }

  test("asMedia wraps arbitrary binary-able columns into the contract") {
    val df = Seq((7L, "hello")).toDF("id", "payload")
    val m = Multimodal.asMedia(df, "id", "payload", "text/plain")
    assert(m.schema.fieldNames.toSeq == Seq("media_id", "bytes", "mime", "meta"))
    assert(m.collect()(0).getAs[Array[Byte]]("bytes").toSeq == "hello".getBytes.toSeq)
  }

  test("stubEmbedding is deterministic, in [0,1), and content-sensitive") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "hello"), (2L, "hello"), (3L, "world")).toDF("id", "t")
    val rows = df.select(col("id"),
        Multimodal.stubEmbedding(col("t").cast("binary"), 4).as("e"),
        Multimodal.signBucket(
          Multimodal.stubEmbedding(col("t").cast("binary"), 4), 4).as("b"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == byId(2L)._2, "same bytes, same embedding")
    assert(byId(1L)._2 != byId(3L)._2, "different bytes, different embedding")
    rows.foreach { case (_, e, b) =>
      assert(e.length == 4 && e.forall(x => x >= 0.0 && x < 1.0))
      assert(b >= 0L && b < 16L)
      val expected = e.zipWithIndex.map { case (x, j) =>
        if (x >= 0.5) 1L << j else 0L }.sum
      assert(b == expected)
    }
  }

  test("frameSceneStats: frame count, scene cuts, and level series") {
    import spark.implicits._
    // payload engineered frame-exact: 3 frames of 4 bytes at stride 4 —
    // levels 65 ('A'*4), 90 ('Z'*4), 90 — exactly one cut (|90-65|>8)
    val media = Multimodal.asMedia(
      Seq((1L, "AAAA" + "ZZZZ" + "ZZZZ")).toDF("id", "payload"),
      "id", "payload", "video/stub")
    val r = Multimodal.frameSceneStats(media,
      frameLen = 4, stride = 4, maxFrames = 16, cutThreshold = 8.0)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(r == List((1L, 3L, 1L, 81.666667))) // (65+90+90)/3 rounded to 6dp
    // short tail frame: 6 bytes at stride 4 -> frames "AAAA" (65) and
    // "BB" (66) — tail mean over the TAIL's length, no cut (|66-65|<8)
    val media2 = Multimodal.asMedia(
      Seq((2L, "AAAABB")).toDF("id", "payload"), "id", "payload", "video/stub")
    val r2 = Multimodal.frameSceneStats(media2,
      frameLen = 4, stride = 4, maxFrames = 16, cutThreshold = 8.0)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(r2 == List((2L, 2L, 0L, 65.5)))
    // maxFrames caps the demux cardinality
    val media3 = Multimodal.asMedia(
      Seq((3L, "A" * 100)).toDF("id", "payload"), "id", "payload", "video/stub")
    assert(Multimodal.frameSceneStats(media3, frameLen = 4, stride = 4,
      maxFrames = 5).select("n_frames").as[Long].head == 5L)
  }

  test("chunkDedupStats: shared aligned chunk dedupes, first wins") {
    import spark.implicits._
    val x = "X" * 64; val y = "Y" * 64; val z = "Z" * 64
    val media = Multimodal.asMedia(Seq(
      (1L, x + y), // chunks hX, hY — both first occurrences
      (2L, x + z), // hX already stored by media 1, hZ new
      (3L, "ab")   // short payload: one 2-byte chunk
    ).toDF("id", "payload"), "id", "payload", "application/octet-stream")
    val got = Multimodal.chunkDedupStats(media, chunkLen = 64)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 2L, 1.0)),
      2L -> ((2L, 1L, 0.5)),
      3L -> ((1L, 1L, 1.0))))
  }

  test("chunkOrphans sweeps only chunks whose every reference is dead") {
    import spark.implicits._
    val x = "X" * 64; val y = "Y" * 64; val z = "Z" * 64
    val media = Multimodal.asMedia(Seq(
      (1L, x + y), // live
      (2L, x + z), // dead: hX survives via media 1, hZ orphans
      (3L, z)      // dead: second dead ref to hZ
    ).toDF("id", "payload"), "id", "payload", "application/octet-stream")
    val live = Seq(1L).toDF("media_id")
    val got = Multimodal.chunkOrphans(media, live, chunkLen = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hz = java.security.MessageDigest.getInstance("MD5")
      .digest(z.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Map(hz -> 2L), got.toString)
    // nothing live is ever swept: all-live media → empty sweep list
    assert(Multimodal.chunkOrphans(media,
      Seq(1L, 2L, 3L).toDF("media_id"), chunkLen = 64).count() == 0)
    // everything dead → every distinct hash orphans:
    // m1=[hX,hY], m2=[hX,hZ], m3=[hZ] → distinct {hX, hY, hZ}
    assert(Multimodal.chunkOrphans(media,
      Seq.empty[Long].toDF("media_id"), chunkLen = 64).count() == 3)
  }

  test("gearChunkDedupStats: shift resistance — insertion re-aligns chunks") {
    // a deterministic pseudo-random ASCII body long enough for ~8 chunks
    val rnd = new scala.util.Random(42)
    val body = (1 to 2048).map(_ => (33 + rnd.nextInt(94)).toChar).mkString
    val shifted = "INSERTED-PREFIX-" + body // 16-byte insertion at front
    // chunk both versions in one corpus but measure overlap directly:
    // re-chunk each doc alone and compare chunk hash multisets
    def chunkHashes(text: String): Seq[String] = {
      val df = Seq((1L, text)).toDF("doc_id", "text")
      // n_stored on a single doc counts distinct first occurrences;
      // to get the hashes, replay the public cut rule driver-side
      val tb = Multimodal.gearTable8
      val bytes = text.map(_.toInt)
      val cuts = (8 to text.length).filter { i =>
        val s = (0 until 8).map(j => tb(bytes(i - 1 - j)) << j).sum
        (s & 255) == 0
      }
      val bounds = (0 +: cuts :+ text.length).distinct.sorted
      val hashes = bounds.sliding(2).map { case Seq(a, b) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(text.substring(a, b).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.toSeq
      // the operator must agree with this replay on chunk count
      val n = Multimodal.gearChunkDedupStats(df, "doc_id", "text")
        .collect()(0).getLong(1)
      assert(n == hashes.size, s"operator chunks $n != replay ${hashes.size}")
      hashes
    }
    val a = chunkHashes(body)
    val b = chunkHashes(shifted)
    assert(a.size >= 4, s"body should cut into several chunks, got ${a.size}")
    // all but the first chunk(s) re-align: the overlap must dominate —
    // a fixed-stride cutter would share ZERO chunks after a 16-byte shift
    val overlap = a.toSet.intersect(b.toSet).size
    assert(overlap >= a.size - 2,
      s"expected >=${a.size - 2} shared chunks after insertion, got $overlap")
    // fixed-stride contrast on the same edit: no chunk survives the shift
    val fsA = body.grouped(64).toSeq
    val fsB = shifted.grouped(64).toSeq
    assert(fsA.toSet.intersect(fsB.toSet).isEmpty)
  }

  test("gearChunkDedupStats: non-ASCII text fails loudly, not silently") {
    val df = Seq((7L, "café " * 100)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Multimodal.gearChunkDedupStats(df, "doc_id", "text").collect()
    }
    assert(e.getMessage.contains("non-ASCII"), s"got: ${e.getMessage}")
  }

  // bimodal payload: 60 ten-byte segments, each clearly above (220) or
  // below (30) the global mean, so aHash bits are unambiguous and a
  // single-segment edit flips exactly that segment's bit
  private def bimodal(pattern: Long): Array[Byte] =
    Array.tabulate(600) { p =>
      val j = p / 10
      (if (((pattern >> j) & 1L) == 1L) 220 else 30).toByte
    }

  test("aHash60: identical payloads hash equal; a one-segment edit flips few bits") {
    val base = bimodal(0x5555555555555L)       // alternating segments
    val twin = bimodal(0x5555555555554L)       // segment 0 flipped low
    val far = bimodal(0xAAAAAAAAAAAAAL)        // every segment inverted
    val h0 = Multimodal.aHash60(0L, base)
    assert(Multimodal.aHash60(9L, base.clone()) == h0, "content-addressed, id-independent")
    val dTwin = java.lang.Long.bitCount(h0 ^ Multimodal.aHash60(1L, twin))
    val dFar = java.lang.Long.bitCount(h0 ^ Multimodal.aHash60(2L, far))
    assert(dTwin <= 3, s"local edit must flip few bits, flipped $dTwin")
    assert(dFar > 10, s"unrelated payload should be far, was $dFar")
  }

  test("phashNearDupPairs: banded search finds planted twins, skips strangers") {
    val mix = (id: Long) => {
      // splitmix-ish 60-bit pattern per stranger
      var x = id * 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      (x ^ (x >>> 27)) & ((1L << 60) - 1)
    }
    val base = bimodal(0x5555555555555L)
    val twin = bimodal(0x5555555555554L)
    val rows = Seq(1L -> base, 2L -> twin) ++ (3L to 40L).map(i => i -> bimodal(mix(i)))
    val media = rows.toDF("media_id", "bytes")
      .select($"media_id", $"bytes", lit("application/octet-stream").as("mime"),
        map(lit("k"), lit("v")).as("meta"))
    val got = Multimodal.phashNearDupPairs(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force ground truth over the full 120-bit signatures
    val hs = rows.map { case (id, b) => id -> Multimodal.aHash120(b) }
    val expect = (for {
      (ai, (ah1, ah2)) <- hs; (bi, (bh1, bh2)) <- hs if ai < bi
      d = java.lang.Long.bitCount(ah1 ^ bh1) +
        java.lang.Long.bitCount(ah2 ^ bh2) if d <= 3
    } yield (ai, bi, d.toLong)).toSet
    assert(got.toSet === expect, "banding must be complete for d <= maxDist")
    assert(expect.contains((1L, 2L, got.find(t => t._1 == 1L && t._2 == 2L).map(_._3).getOrElse(-1L))),
      s"planted twin must surface: $expect")
  }

  test("phashNearDupPairs: complete at maxDist=10 — bands cross the 60-bit word boundary") {
    // at maxDist=10 the 11 bands split 120 bits at 0,10,21,...,109,120:
    // band 4 spans bits 43..64, ORing fragments of BOTH words into one
    // key — this fixture drives that extraction against brute force.
    // Patterns at graded hamming steps from a base put pair distances
    // on both sides of the cut.
    val base = 0x5555555555555L
    val pats = base +:
      (1 to 14).map(k => base ^ ((1L << k) - 1)) :+ 0xAAAAAAAAAAAAAL
    val rows = pats.zipWithIndex.map { case (p, i) => (i + 1L, bimodal(p)) }
    val media = rows.toDF("media_id", "bytes")
      .select($"media_id", $"bytes", lit("application/octet-stream").as("mime"),
        map(lit("k"), lit("v")).as("meta"))
    val got = Multimodal.phashNearDupPairs(media, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = rows.map { case (id, b) => id -> Multimodal.aHash120(b) }
    val expect = (for {
      (ai, (ah1, ah2)) <- hs; (bi, (bh1, bh2)) <- hs if ai < bi
      d = java.lang.Long.bitCount(ah1 ^ bh1) +
        java.lang.Long.bitCount(ah2 ^ bh2) if d <= 10
    } yield (ai, bi, d.toLong)).toSet
    assert(expect.nonEmpty && expect.size < rows.size * (rows.size - 1) / 2,
      s"fixture must straddle the cut: ${expect.size} pairs")
    assert(got === expect, "cross-boundary banding must be complete for d <= 10")
  }

  test("gearChunkNearDupPairs: edited payload pairs with its original, unrelated does not") {
    val rnd = new scala.util.Random(7)
    val body = (0 until 4000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val edited = body.substring(0, 1700) + "XXINSERTXX" + body.substring(1700)
    val other = (0 until 4000).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq((1L, body), (2L, edited), (3L, other)).toDF("doc_id", "text")
    val got = Multimodal.gearChunkNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"edit must re-align, unrelated must not pair: $got")
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("curateMedia: exact collapse first, then perceptual drop, lowest id survives") {
    // bimodal 10-char blocks aligned with the 60 contiguous segments;
    // every interleaved comb (p mod 60) also lands single-block, so
    // both signature words are solidly off-threshold
    val base = (0 until 600).map(i =>
      if ((i / 10) % 2 == 0) 'z' else 'a').mkString
    // a near-twin: one character nudged WITHIN its mode ('z'→'y') —
    // every segment mean stays on its side of the global mean in BOTH
    // segmentations (combined hamming 0) but md5 differs
    val twin = base.updated(0, 'y')
    val far = (0 until 600).map(i =>
      if ((i / 10) % 2 == 0) 'a' else 'z').mkString
    val docs = Seq(
      (5L, base), (9L, base),  // exact dups — 9 dies at stage 1
      (7L, twin),              // perceptual near-dup of 5 — dies at stage 2
      (11L, far)               // unrelated — survives
    ).toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs, "doc_id", "text", "text/plain")
    val got = Multimodal.curateMedia(media, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(5L, 11L), got.toString)
    assert(got(5L) == 600L && got(11L) == 600L)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("lumaAHash60 is scale-invariant and matches aHash60 on byte streams") {
    val vs = Array.tabulate(240)(i => (i * 37 + 11) % 256)
    assert(Multimodal.lumaAHash60(vs) == Multimodal.lumaAHash60(vs.map(_ * 1000)),
      "the cross-multiply compare must not see a uniform scale")
    // on a 0–255 stream the int and byte kernels agree bit for bit
    assert(Multimodal.lumaAHash60(vs) ==
      Multimodal.aHash60(0L, vs.map(_.toByte)))
    // the full 120-bit signatures agree word-for-word too, and the
    // interleaved word is scale-invariant like the contiguous one
    assert(Multimodal.lumaAHash120(vs) ==
      Multimodal.aHash120(vs.map(_.toByte)))
    assert(Multimodal.lumaAHash120(vs) ==
      Multimodal.lumaAHash120(vs.map(_ * 1000)))
  }

  test("syntheticImages: formula dims, real PNG bytes, cyclic pixel stream") {
    val docs = Seq((10L, "abcdef"), (31L, "zzzz")).toDF("doc_id", "text")
    val m = Multimodal.syntheticImages(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bytes")).toMap
    // id 10 → w = 8 + 10%25 = 18, h = 8 + (10/3)%25 = 11
    val d10 = Multimodal.decodeLuma(m(10L)).get
    assert((d10.width, d10.height) == (18, 11))
    val txt = "abcdef"
    assert(d10.lumaMilli.toSeq ==
      (0 until 18 * 11).map(p => 1000 * txt(p % 6).toInt))
    // id 31 → w = 8 + 31%25 = 14, h = 8 + (31/3)%25 = 18, constant 'z'
    val d31 = Multimodal.decodeLuma(m(31L)).get
    assert((d31.width, d31.height) == (14, 18))
    assert(d31.lumaMilli.forall(_ == 1000 * 'z'.toInt))
  }

  test("decodedSignatures: one pass, identical pixels share md5, undecodable drop") {
    val png = Multimodal.encodeGrayPng(4, 3, realPngPixels)
    val png2 = Multimodal.encodeGrayPng(4, 3, realPngPixels) // same pixels
    val other = Multimodal.encodeGrayPng(3, 4, realPngPixels) // same stream, other shape
    val rows = Seq((1L, png), (2L, png2), (3L, other),
        (4L, "not an image".getBytes))
      .toDF("media_id", "bytes")
    val sig = Multimodal.decodedSignatures(rows)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))).toMap
    assert(sig.keySet == Set(1L, 2L, 3L), "undecodable row must be excluded")
    assert(sig(1L) == sig(2L), "identical pixels → identical signature")
    assert(sig(1L)._3 == sig(3L)._3, "same stream → same luma md5")
    assert((sig(1L)._1, sig(1L)._2) == (4, 3))
    assert((sig(3L)._1, sig(3L)._2) == (3, 4))
  }

  test("resizeLumaBox: exact integer box means; undecodable/too-small drop") {
    val px = Array(
      10, 20, 30, 40,
      50, 60, 70, 80) // 4×2
    val rows = Seq(
      (1L, Multimodal.encodeGrayPng(4, 2, px)),
      (2L, "junk".getBytes),                          // undecodable
      (3L, Multimodal.encodeGrayPng(1, 1, Array(9))) // smaller than target
    ).toDF("media_id", "bytes")
    val got = Multimodal.resizeLumaBox(rows, tw = 2, th = 1)
      .collect().map(r =>
        ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    // boxes: [0,2)×[0,2) = {10,20,50,60} → 35; [2,4)×[0,2) = {30,40,70,80} → 55
    assert(got == Map((1L, 0, 0) -> 35000L, (1L, 1, 0) -> 55000L), got.toString)
    // identity resize (target == source) returns the pixels themselves
    val same = Multimodal.resizeLumaBox(rows.filter($"media_id" === 1L),
      tw = 4, th = 2).collect()
      .map(r => (r.getInt(2) * 4 + r.getInt(1)) -> r.getLong(3)).toMap
    assert((0 until 8).forall(i => same(i) == px(i) * 1000L))
  }

  test("curateMediaDecoded: pixel-identity collapse, then luma-hamming drop") {
    // bimodal 10-px blocks (see curateMedia): a one-pixel in-mode nudge
    // keeps both signature words identical while the pixel md5 differs
    val base = Array.tabulate(600)(i => if ((i / 10) % 2 == 0) 200 else 40)
    val twin = base.clone(); twin(0) = 190 // near-dup: one pixel nudged
    val far = Array.tabulate(600)(i => if ((i / 10) % 2 == 0) 40 else 200)
    val rows = Seq(
      (5L, Multimodal.encodeGrayPng(30, 20, base)),
      (9L, Multimodal.encodeGrayPng(30, 20, base)), // exact pixel dup — dies stage 1
      (7L, Multimodal.encodeGrayPng(30, 20, twin)), // perceptual near-dup — dies stage 2
      (11L, Multimodal.encodeGrayPng(30, 20, far)), // unrelated — survives
      (13L, "junk".getBytes)                        // undecodable — excluded
    ).toDF("media_id", "bytes")
    val got = Multimodal.curateMediaDecoded(rows, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(5L, 11L), got.toString)
    assert(got.values.forall(_ == 600L))
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("decodeLuma: indexed-color images resolve palette, not raw indices") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    // 8×8 images: the JDK GIF writer corrupts rasters below 8 px a
    // side (verified in-container: 2×2/4×4 round-trips lose pixels;
    // 8×8+ are exact) — the fixture stays above that line
    val w = 8; val h = 8
    def gifBytes(icm: IndexColorModel, idx: Array[Int]): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w)
        im.getRaster.setSample(x, y, 0, idx(y * w + x))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "gif", out)
      out.toByteArray
    }
    // the SAME visual image under two permuted 256-gray palettes
    // (identity vs reversed) — raw-index reads would hash them
    // differently; palette-resolved luma must be identical = 1000·gray
    val grays = Array.tabulate(w * h)(i => (i * 53 + 11) % 256)
    val idP = Array.tabulate(256)(identity)
    val revP = Array.tabulate(256)(i => 255 - i)
    def icmOf(p: Array[Int]): IndexColorModel = {
      val b = p.map(_.toByte)
      new IndexColorModel(8, 256, b, b, b)
    }
    val a = gifBytes(icmOf(idP), grays)
    val b = gifBytes(icmOf(revP), grays.map(v => 255 - v))
    val da = Multimodal.decodeLuma(a).getOrElse(fail("gif A must decode"))
    val db = Multimodal.decodeLuma(b).getOrElse(fail("gif B must decode"))
    assert(Multimodal.sniffFormat(a) == "gif")
    assert(da.lumaMilli.toSeq == grays.map(_ * 1000).toSeq)
    assert(db.lumaMilli.toSeq == da.lumaMilli.toSeq)
    // a COLOR palette applies the Rec.601 weights to the palette RGB:
    // entry i = (r=i, g=0, b=255−i) → luma = 299·i + 114·(255−i)
    val rp = Array.tabulate(256)(i => i.toByte)
    val gp = Array.fill(256)(0.toByte)
    val bp = Array.tabulate(256)(i => (255 - i).toByte)
    val c = gifBytes(new IndexColorModel(8, 256, rp, gp, bp), grays)
    val dc = Multimodal.decodeLuma(c).getOrElse(fail("gif C must decode"))
    assert(dc.lumaMilli.toSeq ==
      grays.map(i => 299 * i + 114 * (255 - i)).toSeq)
    // different visuals sharing an index raster must NOT collide
    assert(dc.lumaMilli.toSeq != da.lumaMilli.toSeq)
  }

  test("audio: sniff recognizes wav/aiff/au magics; RIFF non-WAVE stays riff") {
    val wav = Multimodal.encodePcmWav(8000, Array(0, 100, -100, 32767, -32768))
    assert(Multimodal.sniffFormat(wav) == "wav")
    assert(Multimodal.sniffFormat("RIFF....AVI LIST".getBytes) == "riff")
    assert(Multimodal.sniffFormat("FORM....AIFF....".getBytes) == "aiff")
    assert(Multimodal.sniffFormat(".snd....".getBytes) == "au")
  }

  test("audio round-trip: encodePcmWav -> decodePcm is sample-exact") {
    val samples = Array(0, 1, -1, 255, -256, 12345, -12345, 32767, -32768, 0)
    val d = Multimodal.decodePcm(Multimodal.encodePcmWav(11025, samples))
      .getOrElse(fail("real WAV payload must decode"))
    assert(d.sampleRate == 11025)
    assert(d.channels == 1)
    assert(d.samples.toSeq == samples.toSeq)
  }

  test("audio: AIFF (big-endian) and AU (mu-law, JDK converter) decode") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val samples = Array(0, 1000, -1000, 16384, -16384)
    // AIFF: 16-bit signed BIG-endian mono — the endianness twin of WAV
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, true)
    val raw = new Array[Byte](2 * samples.length)
    samples.zipWithIndex.foreach { case (s, i) =>
      raw(2 * i) = ((s >> 8) & 0xff).toByte; raw(2 * i + 1) = (s & 0xff).toByte
    }
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong),
      AudioFileFormat.Type.AIFF, out)
    val aiff = Multimodal.decodePcm(out.toByteArray)
      .getOrElse(fail("AIFF payload must decode"))
    assert(aiff.samples.toSeq == samples.toSeq)
    // AU µ-law: lossy companding — decode must succeed via the JDK
    // converter and preserve sample COUNT and rate; values are
    // µ-law-quantized so only sign/magnitude ordering is asserted
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW,
      8000f, 8, 1, 1, 8000f, false)
    val pcmIn = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
    val ulawIn = AudioSystem.getAudioInputStream(ulawFmt, pcmIn)
    val out2 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ulawIn, AudioFileFormat.Type.AU, out2)
    val au = Multimodal.decodePcm(out2.toByteArray)
      .getOrElse(fail("AU mu-law payload must decode"))
    assert(au.sampleRate == 8000 && au.samples.length == samples.length)
    assert(au.samples(1) > 0 && au.samples(2) < 0 && au.samples(0).abs <= 8)
    assert(math.abs(au.samples(3) - 16384) < 1024) // µ-law ~μ=255 error bound
  }

  test("audio: non-audio payloads and truncated WAV return None") {
    assert(Multimodal.decodePcm("plain text".getBytes).isEmpty)
    assert(Multimodal.decodePcm(Array.emptyByteArray).isEmpty)
    val wav = Multimodal.encodePcmWav(8000, Array(1, 2, 3, 4))
    assert(Multimodal.decodePcm(wav.take(16)).isEmpty) // header cut mid-fmt
  }

  test("decodeAudioStats: integer-exact stats over decoded samples") {
    // hand-built: peak 300, silence runs of 2 (|s|<=5) then 3
    val samples = Array(0, 5, 300, -300, 100, 0, -5, 3, 200)
    val rows = Seq(
      (1L, Multimodal.encodePcmWav(8000, samples)),
      (2L, "junk".getBytes) // undecodable — excluded
    ).toDF("media_id", "bytes")
    val got = Multimodal.decodeAudioStats(rows, silenceThr = 5).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L)
    assert(r.getInt(1) == 8000)
    assert(r.getLong(2) == 9L)                               // n_samples
    assert(r.getLong(3) == 300L)                             // peak_abs
    assert(r.getLong(4) == samples.map(s => s.toLong * s).sum) // sum_sq
    assert(r.getLong(5) == 1000L * samples.map(math.abs(_).toLong).sum / 9)
    assert(r.getLong(6) == 3L)                               // max_silence_run
  }

  test("syntheticAudio: formula payloads decode to formula stats") {
    val docs = Seq((3L, "abcdef"), (97L, "Hello, world")).toDF("doc_id", "text")
    val media = Multimodal.syntheticAudio(docs, "doc_id", "text")
    val stats = Multimodal.decodeAudioStats(media, silenceThr = 256)
      .collect().map(r => r.getLong(0) -> r).toMap
    def formula(id: Long, txt: String): (Int, Int, Array[Int]) = {
      val sr = (8000 + 4000 * (id % 3)).toInt
      val n = (64 + 4 * (id % 97)).toInt
      (sr, n, Array.tabulate(n)(i =>
        if ((i / 16) % 4 == 0) 0 else (txt.charAt(i % txt.length).toInt - 128) * 255))
    }
    Seq((3L, "abcdef"), (97L, "Hello, world")).foreach { case (id, txt) =>
      val (sr, n, s) = formula(id, txt)
      val r = stats(id)
      assert(r.getInt(1) == sr && r.getLong(2) == n.toLong)
      assert(r.getLong(3) == s.map(math.abs).max.toLong)
      assert(r.getLong(4) == s.map(v => v.toLong * v).sum)
    }
  }

  /** VIDEO integration contract — ignored until a demuxer is
    * available (the JDK ships no VIDEO codec — audio now decodes for
    * real via javax.sound.sampled, see the round-trip specs above —
    * and this container has no ffmpeg). The seam is fully specified
    * so a production build only binds the codec:
    *  - demux replaces frameSceneStats' byte-slice stage: a
    *    per-partition ffmpeg/JNI context (initialised ONCE at the
    *    mapPartitions seam, exactly where ImageIO and AudioSystem
    *    now run) emits (media_id, frame_no, frame_bytes) at the
    *    requested stride — the SAME rows the windowed scene-cut and
    *    level aggregation already consume unchanged;
    *  - decoded frame features then flow through decodeLuma/
    *    lumaAHash60 verbatim (a decoded frame IS an image).
    * The assertions below document the expected schema/cardinality
    * contract against a hypothetical demuxFrames(media, stride). */
  ignore("video demux contract: (media_id, frame_no, frame_bytes) at stride") {
    // NOTE: the MJPEG/AVI slice is REAL now (demuxAvi + ImageIO, specs
    // below); this contract remains for MODERN codecs (H.264/VP9/AV1),
    // which the JDK cannot decode — such frames demux fine and report
    // undecodable per frame.
    // val frames = Multimodal.demuxFrames(media, stride = 24)
    // assert(frames.columns.toSeq == Seq("media_id", "frame_no", "frame_bytes"))
    // assert(frames.filter($"media_id" === 1L).count() ==
    //   expectedFrameCount(duration = ..., stride = 24))
    // Multimodal.frameSceneStats consumes these rows unchanged.
  }

  test("envelopeHash60 is gain-invariant and sign-insensitive") {
    val s = Array.tabulate(240)(i => (math.sin(i / 7.0) * 1000).toInt)
    val h = Multimodal.envelopeHash60(s)
    assert(h == Multimodal.envelopeHash60(s.map(_ * 3)),
      "re-leveled copy (3x gain) must hash identically")
    assert(h == Multimodal.envelopeHash60(s.map(v => -v)),
      "polarity flip preserves |s| — same envelope")
    assert(Multimodal.envelopeHash60(Array.emptyByteArray.map(_.toInt)) == 0L)
    // a structurally different envelope must differ
    val loudTail = s.zipWithIndex.map { case (v, i) =>
      if (i > 120) v * 20 else v / 20 }
    assert(h != Multimodal.envelopeHash60(loudTail))
    // both 120-bit words share the gain/polarity invariances
    assert(Multimodal.envelopeHash120(s) == Multimodal.envelopeHash120(s.map(_ * 3)))
    assert(Multimodal.envelopeHash120(s) == Multimodal.envelopeHash120(s.map(v => -v)))
    assert(Multimodal.envelopeHash120(Array.empty[Int]) == ((0L, 0L)))
  }

  test("curateAudioDecoded: container-invariant collapse, envelope near-drop") {
    // track A as WAV twice (byte-identical) AND as AIFF (different
    // container, same PCM) — all three must collapse to the lowest id;
    // track B = A with tiny perturbations (same envelope → dropped as
    // near-dup); track C structurally different (kept)
    val a = Array.tabulate(200)(i =>
      if ((i / 16) % 4 == 0) 0 else ((i % 40) - 20) * 800)
    val wavA = Multimodal.encodePcmWav(8000, a)
    val aiffA = {
      import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
      val raw = new Array[Byte](2 * a.length)
      a.indices.foreach { i => // AIFF is big-endian
        raw(2 * i) = ((a(i) >> 8) & 0xff).toByte
        raw(2 * i + 1) = (a(i) & 0xff).toByte
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, true)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, a.length.toLong),
        AudioFileFormat.Type.AIFF, out)
      out.toByteArray
    }
    val b = a.clone(); b(50) += 1; b(150) -= 1
    val c = a.map(v => -v).zipWithIndex.map { case (_, i) =>
      if (i < 100) 0 else 16000 }
    val media = Seq(
      (1L, wavA), (2L, wavA.clone()), (3L, aiffA),
      (7L, Multimodal.encodePcmWav(8000, b)),
      (9L, Multimodal.encodePcmWav(8000, c)),
      (11L, "not audio".getBytes)
    ).toDF("media_id", "bytes")
    val kept = Multimodal.curateAudioDecoded(media, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    graft.core.OpCache.releaseAll(blocking = true)
    assert(kept == Set((1L, 8000, 200L), (9L, 8000, 200L)),
      s"1 survives (2=bytes, 3=container, 7=envelope near-dup all fold " +
        s"in; 9 distinct; 11 undecodable excluded): $kept")
  }

  test("video: encodeMjpegAvi -> demuxAvi round-trips structure and frames") {
    val frames = Seq(
      Array.fill(16 * 16)(24), Array.fill(16 * 16)(24),
      Array.fill(16 * 16)(200))
    val avi = Multimodal.encodeMjpegAvi(16, 16, frames, usecPerFrame = 33333L)
    assert(Multimodal.sniffFormat(avi) == "riff",
      "AVI is RIFF but not WAVE — must not sniff as wav")
    val v = Multimodal.demuxAvi(avi).get
    assert(v.width == 16 && v.height == 16 && v.usecPerFrame == 33333L)
    assert(v.frames.length == 3)
    v.frames.foreach { f =>
      assert(Multimodal.sniffFormat(f) == "jpeg",
        "MJPEG frame payloads are plain JPEGs")
      val d = Multimodal.decodeLuma(f).get
      assert(d.width == 16 && d.height == 16)
    }
  }

  test("video: mid-bucket grays survive the lossy JPEG round-trip in-bucket") {
    // the discipline qm16's formula oracle rests on: for every bucket
    // center 8 + 16k, encode -> decode mean luma must stay inside
    // bucket k (JPEG error is a few counts, the bucket is 16 wide)
    (0 until 16).foreach { k =>
      val g = 8 + 16 * k
      val d = Multimodal.decodeLuma(
        Multimodal.encodeGrayJpeg(16, 16, Array.fill(16 * 16)(g))).get
      val mean = d.lumaMilli.map(_.toLong).sum / d.lumaMilli.length
      assert(mean / 16000 == k.toLong,
        s"gray $g decoded to mean-milli $mean — left bucket $k")
    }
  }

  test("video: demux rejects garbage, salvages truncation, skips foreign codecs") {
    assert(Multimodal.demuxAvi("not an avi at all".getBytes).isEmpty)
    assert(Multimodal.demuxAvi(Array.emptyByteArray).isEmpty)
    val avi = Multimodal.encodeMjpegAvi(16, 16,
      Seq(Array.fill(256)(40), Array.fill(256)(40), Array.fill(256)(72)))
    // truncate inside the last FRAME chunk (idx1 trails movi and is
    // 8 + 16·3 = 56 bytes — cut past it into the frame data): the
    // walk salvages the prefix
    val cut = java.util.Arrays.copyOfRange(avi, 0, avi.length - 56 - 40)
    val t = Multimodal.demuxAvi(cut).get
    assert(t.width == 16 && t.frames.length < 3,
      s"truncated file must demux a frame prefix, got ${t.frames.length}")
    // a valid AVI whose last frame payload is a FOREIGN codec (JPEG
    // magic overwritten in place — chunk structure intact): it still
    // demuxes, but videoSceneStats counts it undecoded and the cut
    // series runs over the decoded frames only
    val foreign = avi.clone()
    val lastSoi = {
      var p = -1
      var i = 12
      while (i < foreign.length - 1) {
        if ((foreign(i) & 0xff) == 0xff && (foreign(i + 1) & 0xff) == 0xd8)
          p = i
        i += 1
      }
      p
    }
    assert(lastSoi > 0, "fixture must contain a JPEG SOI marker")
    foreign(lastSoi) = 'X'.toByte; foreign(lastSoi + 1) = 'X'.toByte
    val full = Multimodal.videoSceneStats(
      Seq((1L, foreign)).toDF("media_id", "bytes")).collect()(0)
    assert(full.getLong(4) == 3L && full.getLong(5) == 2L,
      s"3 demuxed, 2 decoded: $full")
    assert(full.getLong(6) == 0L,
      "both decoded frames share bucket 2 — no cut across the dead frame")
  }

  test("decodedVideoSignatures: container-invariant identity, strict exclusion") {
    val frames = Seq(Array.fill(256)(40), Array.fill(256)(72))
    val a = Multimodal.encodeMjpegAvi(16, 16, frames)
    val b = Multimodal.encodeMjpegAvi(16, 16, frames, usecPerFrame = 25000L)
    // corrupt one frame's JPEG magic: whole payload must be EXCLUDED
    val broken = a.clone()
    val soi = (12 until broken.length - 1).find(i =>
      (broken(i) & 0xff) == 0xff && (broken(i + 1) & 0xff) == 0xd8).get
    broken(soi) = 'X'.toByte
    val got = Multimodal.decodedVideoSignatures(
        Seq((1L, a), (2L, b), (3L, broken),
          (4L, "not avi".getBytes)).toDF("media_id", "bytes"))
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(got.keySet == Set(1L, 2L),
      s"broken frame and non-AVI must be excluded: ${got.keySet}")
    assert(got(1L) == got(2L),
      "same frames in differently-timed containers share an identity")
  }

  test("videoSceneStats: cuts are bucket changes between decoded frames") {
    // buckets 1,1,12 → one cut; singleton bucket series → zero cuts
    val a = Multimodal.encodeMjpegAvi(16, 16, Seq(
      Array.fill(256)(24), Array.fill(256)(24), Array.fill(256)(200)))
    val b = Multimodal.encodeMjpegAvi(16, 16, Seq(Array.fill(256)(88)))
    val got = Multimodal.videoSceneStats(
        Seq((1L, a), (2L, b)).toDF("media_id", "bytes"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), r.getLong(6), r.getDouble(7)))).toMap
    assert(got(1L) == ((3L, 1L, BigDecimal(1 + 1 + 12)./(BigDecimal(3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(2L) == ((1L, 0L, 5.0)))
    // non-AVI payloads are excluded entirely
    assert(Multimodal.videoSceneStats(
      Seq((3L, "plain text".getBytes)).toDF("media_id", "bytes"))
      .count() == 0L)
  }

  test("syntheticVideos: formula frame counts, real RIFF bytes") {
    val docs = Seq((0L, "x"), (1L, "y"), (3L, "z"), (17L, "w"))
      .toDF("doc_id", "text")
    val vids = Multimodal.syntheticVideos(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    vids.foreach { case (id, bytes) =>
      val v = Multimodal.demuxAvi(bytes).get
      assert(v.frames.length == (2 + id % 4).toInt,
        s"doc $id frame count")
      assert(v.width == 16 && v.height == 16 && v.usecPerFrame == 40000L)
    }
    // doc 17, frame 2: gray 8 + 16*((17 + 1) % 16) = 8 + 32 = 40 →
    // bucket 2 — spot-check the decoded bucket against the formula
    val f2 = Multimodal.demuxAvi(vids(17L)).get.frames(2)
    val d = Multimodal.decodeLuma(f2).get
    val mean = d.lumaMilli.map(_.toLong).sum / d.lumaMilli.length
    assert(mean / 16000 == 2L, s"doc 17 frame 2 bucket: mean-milli $mean")
  }
}

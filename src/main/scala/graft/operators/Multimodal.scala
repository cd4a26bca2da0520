package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed batch-wise per partition.
  *
  * The Spark-side shape is the real design for 100 TB media work:
  *  - media rows carry (id, bytes, mime, meta map) — bytes never leave
  *    the executor, never hit the driver;
  *  - per-row decode/feature work runs in `mapPartitions` so a decoder
  *    (JNI codec, native lib) initialises once per partition, not per
  *    row — the JVM analogue of a batched pandas-UDF;
  *  - decoded features are fixed-schema structs so downstream is
  *    ordinary columnar relational work.
  *
  * IMAGE decode is REAL: `javax.imageio.ImageIO` (the JDK's
  * `java.desktop` module — no external dependency) decodes PNG / JPEG
  * / GIF / BMP payloads at the per-partition seam, and [[decodeImage]]
  * reports TRUE pixel dimensions plus an integer-exact mean luma
  * (Rec.601 integer weights — engine-replayable arithmetic, see
  * [[decodeLuma]]). Non-image payloads (and codec failures) report
  * width = height = 0 — an honest "not decodable", never a guess.
  * Byte-level payload statistics (size, entropy, histogram moments,
  * magic-byte sniff) are computed for every payload regardless.
  *
  * AUDIO decode is REAL too: `javax.sound.sampled.AudioSystem` (the
  * same JDK `java.desktop` module) reads WAV / AIFF / AU containers
  * — linear PCM directly, µ-law/a-law through the JDK's own
  * converter — at the identical per-partition seam ([[decodePcm]]).
  * Decoded 16-bit samples are integers, so every derived statistic
  * (peak, energy, silence runs — [[decodeAudioStats]]) is
  * bit-replayable by any engine, and [[encodePcmWav]] is the
  * fixture factory for round-trip oracles (qm15's discipline,
  * mirroring [[encodeGrayPng]]/qm10 for images).
  *
  * VIDEO is REAL for the MJPEG/AVI slice: [[demuxAvi]] walks the
  * RIFF container in pure JVM byte logic (headers are just bytes)
  * and MJPEG frame payloads are JPEGs — [[decodeLuma]]'s ImageIO
  * path decodes them, so [[videoSceneStats]] runs container → frames
  * → pixels → scene signal end-to-end with zero new dependencies
  * ([[encodeMjpegAvi]] is the fixture factory, qm16's round-trip).
  * MODERN compressed codecs (H.264/VP9/AV1...) remain a STUB — the
  * JDK ships no such decoder and this container has no ffmpeg; such
  * frames demux fine but report undecodable per frame. The
  * integration seam for a production decoder is the same
  * `mapPartitions` block (see [[sampleFrames]] / [[frameSceneStats]]
  * and the ignored contract spec in MultimodalSpec).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  final case class MediaFeatures(
      media_id: Long,
      format: String,
      n_bytes: Long,
      entropy: Double,
      mean_byte: Double,
      width: Int,       // TRUE decoded pixel width; 0 when not decodable
      height: Int,      // TRUE decoded pixel height; 0 when not decodable
      mean_luma: Double) // integer-exact Rec.601 mean luma; 0.0 when not decodable

  /** Magic-byte format sniff (real logic — headers are just bytes).
    * RIFF refines to "wav" when the form type at bytes 8–11 is WAVE
    * (other RIFF forms — AVI, WebP — stay "riff"); FORM/AIFF and the
    * .snd magic cover the other two JDK-decodable audio containers. */
  def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 8 &&
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8') "gif"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 4 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') {
      if (b.length >= 12 && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
      else "riff"
    }
    else if (b.length >= 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
      b(8) == 'A' && b(9) == 'I' && b(10) == 'F') "aiff" // AIFF and AIFC
    else if (b.length >= 4 && b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd') "au"
    else "unknown"

  private val ImageFormats = Set("png", "jpeg", "gif", "bmp")
  private val AudioFormats = Set("wav", "aiff", "au")

  /** Decoded image: true dimensions plus the per-pixel luma stream in
    * row-major order, scaled ×1000 (lumaMilli = 299·R + 587·G + 114·B,
    * the Rec.601 weights in INTEGER thousandths — no float anywhere,
    * so every derived statistic is bit-replayable by any engine).
    * Samples read straight off the raster (no ColorModel conversion):
    * a 1-band (grayscale) image uses its single band as R = G = B —
    * lumaMilli = 1000·v — and ≥3-band images use bands 0/1/2 as RGB.
    * EXCEPTION: indexed-color images (GIF always; palette PNG/BMP),
    * whose single band stores palette INDICES, not gray values —
    * those resolve each index through the IndexColorModel's RGB
    * palette before the Rec.601 weights, so identical images with
    * permuted palettes hash identically and different images sharing
    * an index raster do not collide (a gray palette entry r=g=b=v
    * yields exactly 1000·v, consistent with the grayscale rule).
    * Conversion-free reads keep the decoded values exactly the
    * samples the file stores (lossless for PNG/BMP/GIF), which is
    * what makes an encode→decode round-trip oracle-checkable. */
  final case class DecodedImage(width: Int, height: Int, lumaMilli: Array[Int])

  // ---- pooled codec instances (the per-partition init-once seam) ----
  // ImageIO.read(InputStream)/write(..., OutputStream) allocate a NEW
  // reader/writer per call AND (with useCache on, the JDK default) back
  // each call's Image{Input,Output}Stream with a TEMP FILE — per-payload
  // file churn that dominates tiny-payload corpora (the round-10 ×100
  // video_scenes finding: 500k 2–5-frame AVIs spent the run in
  // allocator/stream setup, 396.7 s). Spark reuses task threads, so a
  // ThreadLocal pool IS the per-partition instance pool, shared across
  // every mapPartitions codec seam without threading a handle through
  // call sites; readers/writers are not thread-safe but never cross
  // threads here. Streams are memory-cached — payloads are row-sized
  // by contract (a row's bytes already sit on the heap).
  private val readerPool =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() = new java.util.HashMap()
    }
  private val writerPool =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageWriter]] {
      override def initialValue() = new java.util.HashMap()
    }

  private def pooledReader(fmt: String): javax.imageio.ImageReader = {
    val m = readerPool.get()
    var r = m.get(fmt)
    if (r == null) {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
      if (it.hasNext) { r = it.next(); m.put(fmt, r) }
    }
    r
  }

  private def pooledWriter(fmt: String): javax.imageio.ImageWriter = {
    val m = writerPool.get()
    var w = m.get(fmt)
    if (w == null) {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
      if (it.hasNext) { w = it.next(); m.put(fmt, w) }
    }
    w
  }

  /** Encode through the pooled per-thread writer — the JDK encoder
    * with default params (exactly what `ImageIO.write` runs), minus
    * the per-call writer allocation and temp-file-backed stream. */
  private def encodePooled(
      img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val w = pooledWriter(fmt)
    val bo = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bo)
    try {
      w.setOutput(ios)
      w.write(img)
      ios.flush()
    } finally {
      w.setOutput(null)
      ios.close()
    }
    bo.toByteArray
  }

  /** Real image decode via `javax.imageio.ImageIO` (JDK `java.desktop`
    * — present in this runtime; verified `java --list-modules`).
    * Returns None for non-image payloads or codec failures. */
  def decodeLuma(bytes: Array[Byte]): Option[DecodedImage] = {
    val fmt = sniffFormat(bytes)
    if (!ImageFormats.contains(fmt)) return None
    try {
      val reader = pooledReader(fmt)
      val img =
        if (reader == null) // no registered reader: the ImageIO.read path
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        else {
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis, true, true)
            reader.read(0)
          } finally {
            reader.setInput(null)
            iis.close()
          }
        }
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      val r = img.getRaster
      val bands = r.getNumBands
      // indexed color: the single band holds palette indices —
      // precompute index → Rec.601 lumaMilli once per image
      val lut: Array[Int] = img.getColorModel match {
        case icm: java.awt.image.IndexColorModel =>
          val n = icm.getMapSize
          val rs = new Array[Byte](n); icm.getReds(rs)
          val gs = new Array[Byte](n); icm.getGreens(gs)
          val bs = new Array[Byte](n); icm.getBlues(bs)
          Array.tabulate(n)(k =>
            299 * (rs(k) & 0xff) + 587 * (gs(k) & 0xff) + 114 * (bs(k) & 0xff))
        case _ => null
      }
      val luma = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val l =
            if (lut != null) lut(r.getSample(x, y, 0))
            else if (bands == 1) 1000 * r.getSample(x, y, 0)
            else if (bands == 2) 1000 * r.getSample(x, y, 0) // gray+alpha
            else 299 * r.getSample(x, y, 0) + 587 * r.getSample(x, y, 1) +
              114 * r.getSample(x, y, 2)
          luma(y * w + x) = l
          x += 1
        }
        y += 1
      }
      Some(DecodedImage(w, h, luma))
    } catch { case _: Exception => None }
  }

  /** Deterministic grayscale-PNG ENCODER (the round-trip fixture
    * factory and the write half of the image seam): pixel (x, y) =
    * `pixels(y·w + x)` (0–255), written through a TYPE_BYTE_GRAY
    * raster — sample-exact, no colorspace conversion — and encoded
    * with the JDK PNG writer (lossless, timestamp-free, so identical
    * pixels yield identical bytes within a JVM). */
  def encodeGrayPng(w: Int, h: Int, pixels: Array[Int]): Array[Byte] = {
    require(w >= 1 && h >= 1 && pixels.length == w * h,
      s"need $w x $h = ${w * h} pixels, got ${pixels.length}")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, pixels(y * w + x) & 0xff); x += 1 }
      y += 1
    }
    encodePooled(img, "png")
  }

  // ---------------------------------------------------------------
  // Real-codec AUDIO path (javax.sound.sampled) — qm15
  // ---------------------------------------------------------------

  /** Decoded audio: sample rate, channel count, and CHANNEL-0 samples
    * as integers on the 16-bit signed scale ([-32768, 32767] for
    * 16-bit sources; 8-bit sources keep their native [-128, 127]
    * signed range). Integer samples straight off the PCM frames — no
    * float anywhere — so every derived statistic is bit-replayable
    * by any engine (the [[DecodedImage]] discipline for sound). */
  final case class DecodedAudio(
      sampleRate: Int, channels: Int, samples: Array[Int])

  /** Real audio decode via `javax.sound.sampled.AudioSystem` (JDK
    * `java.desktop` — the same module as ImageIO; present in this
    * runtime). Reads WAV / AIFF / AU containers: linear PCM frames
    * directly (8/16-bit, signed/unsigned, both endiannesses), µ-law
    * and a-law through the JDK's own format converter (normalised to
    * 16-bit signed PCM). Returns None for non-audio payloads or
    * codec failures — the honest "not decodable", never a guess. */
  def decodePcm(bytes: Array[Byte]): Option[DecodedAudio] = {
    if (!AudioFormats.contains(sniffFormat(bytes))) return None
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    import AudioFormat.Encoding
    try {
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val srcFmt = in.getFormat
        val (pcm, fmt) =
          if (srcFmt.getEncoding == Encoding.PCM_SIGNED ||
            srcFmt.getEncoding == Encoding.PCM_UNSIGNED) (in, srcFmt)
          else { // µ-law / a-law → the JDK converter, 16-bit signed
            val t = new AudioFormat(Encoding.PCM_SIGNED,
              srcFmt.getSampleRate, 16, srcFmt.getChannels,
              2 * srcFmt.getChannels, srcFmt.getSampleRate, false)
            (AudioSystem.getAudioInputStream(t, in), t)
          }
        val raw = pcm.readAllBytes()
        val frameBytes = fmt.getFrameSize
        val bytesPerSample = (fmt.getSampleSizeInBits + 7) / 8
        if (frameBytes <= 0 || bytesPerSample > 2) return None
        val signed = fmt.getEncoding == Encoding.PCM_SIGNED
        val big = fmt.isBigEndian
        val n = raw.length / frameBytes
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          val off = i * frameBytes // channel 0 leads each frame
          out(i) =
            if (bytesPerSample == 1) {
              if (signed) raw(off).toInt else (raw(off) & 0xff) - 128
            } else {
              val b0 = raw(off) & 0xff
              val b1 = raw(off + 1) & 0xff
              val u = if (big) (b0 << 8) | b1 else (b1 << 8) | b0
              if (signed) (u << 16) >> 16 else u - 32768
            }
          i += 1
        }
        Some(DecodedAudio(math.round(fmt.getSampleRate), fmt.getChannels, out))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Deterministic mono 16-bit PCM WAV ENCODER (the audio fixture
    * factory and the write half of the audio seam — [[encodeGrayPng]]
    * for sound): sample i = `samples(i)` in [-32768, 32767], written
    * little-endian through the JDK WAV writer (`AudioSystem.write` —
    * lossless, timestamp-free, so identical samples yield identical
    * bytes). */
  def encodePcmWav(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    require(sampleRate >= 1, s"sampleRate must be >= 1, got $sampleRate")
    require(samples.nonEmpty, "need at least one sample")
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val raw = new Array[Byte](2 * samples.length)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      require(s >= -32768 && s <= 32767, s"sample out of 16-bit range: $s")
      raw(2 * i) = (s & 0xff).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      sampleRate.toFloat, 16, 1, 2, sampleRate.toFloat, false)
    val stream = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(stream, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic synthetic audio table from a text corpus — the
    * audio round-trip fixture (qm15), [[syntheticImages]]' discipline
    * for sound: doc id becomes a mono WAV at sample rate
    * 8000 + 4000·(id mod 3) with n = 64 + 4·(id mod 97) samples;
    * sample i is 0 when (i div 16) mod 4 = 0 (formula-injected
    * silence windows, so silence-run statistics have real structure)
    * and (code(i mod len) − 128) · 255 otherwise (byte char codes →
    * [-32640, 32385], always 16-bit-safe). All of (rate, n, samples)
    * are pure formulas over (doc_id, text) an oracle replays WITHOUT
    * seeing bytes, while the engine runs text → [[encodePcmWav]]
    * (real JDK WAV writer) → binary column → [[decodePcm]] (real
    * AudioSystem read): a lie anywhere in the codec path breaks
    * formula parity. ASCII contract as [[syntheticImages]]. */
  def syntheticAudio(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col(textCol)) >= 1)
      .select(col(idCol).cast("long").as("media_id"), col(textCol).as("txt"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, txt) =>
          val sr = (8000 + 4000 * (id % 3)).toInt
          val n = (64 + 4 * (id % 97)).toInt
          val len = txt.length
          val samples = Array.tabulate(n) { i =>
            if ((i / 16) % 4 == 0) 0
            else {
              val c = txt.charAt(i % len).toInt
              if (c > 255) throw new IllegalArgumentException(
                s"syntheticAudio: non-byte char in doc $id")
              (c - 128) * 255
            }
          }
          (id, encodePcmWav(sr, samples))
        }
      }
      .toDF("media_id", "bytes")
      .select(col("media_id"), col("bytes"), lit("audio/wav").as("mime"),
        map(lit("origin"), lit("synthetic-wav")).as("meta"))
  }

  /** One REAL audio decode pass per payload → integer-exact signal
    * statistics: (media_id, sample_rate, n_samples, peak_abs,
    * sum_sq, mean_abs_milli, max_silence_run) — peak amplitude,
    * total energy (Σ s², exact in 64 bits), floor-millis mean
    * absolute level, and the longest consecutive run of samples with
    * |s| ≤ `silenceThr` (the silence detector a speech-data curation
    * pass gates on). All integer arithmetic over decoded channel-0
    * samples, so every column replays exactly in SQL. Undecodable
    * payloads are EXCLUDED (the [[decodedSignatures]] contract);
    * decode batched per partition at the codec seam. */
  def decodeAudioStats(media: DataFrame, silenceThr: Int = 256): DataFrame = {
    require(silenceThr >= 0, "silenceThr must be >= 0")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, b) =>
          decodePcm(if (b == null) Array.emptyByteArray else b).map { d =>
            var peak = 0L
            var sumSq = 0L
            var sumAbs = 0L
            var run = 0L
            var maxRun = 0L
            var i = 0
            while (i < d.samples.length) {
              val v = d.samples(i).toLong
              val a = math.abs(v)
              if (a > peak) peak = a
              sumSq += v * v
              sumAbs += a
              if (a <= silenceThr) {
                run += 1; if (run > maxRun) maxRun = run
              } else run = 0
              i += 1
            }
            val n = d.samples.length.toLong
            (id, d.sampleRate, n, peak, sumSq,
              if (n > 0) 1000L * sumAbs / n else 0L, maxRun)
          }
        }
      }
      .toDF("media_id", "sample_rate", "n_samples", "peak_abs",
        "sum_sq", "mean_abs_milli", "max_silence_run")
  }

  /** Decode + feature-extract one media payload: byte-stream stats
    * (size, entropy, histogram mean — computed for EVERY payload) plus
    * the REAL decode ([[decodeLuma]]) for image formats — true
    * width/height and integer-exact mean luma; 0/0/0.0 for non-image
    * or undecodable payloads. */
  def decodeImage(mediaId: Long, bytes: Array[Byte]): MediaFeatures = {
    val hist = new Array[Long](256)
    var i = 0
    while (i < bytes.length) { hist(bytes(i) & 0xff) += 1; i += 1 }
    val n = bytes.length.toDouble.max(1.0)
    var entropy = 0.0
    var mean = 0.0
    var j = 0
    while (j < 256) {
      val p = hist(j) / n
      if (p > 0) entropy -= p * math.log(p) / math.log(2)
      mean += j * p
      j += 1
    }
    val (w, h, ml) = decodeLuma(bytes) match {
      case Some(d) =>
        var s = 0L
        var k = 0
        while (k < d.lumaMilli.length) { s += d.lumaMilli(k); k += 1 }
        // s and the divisor are exact integers; one IEEE division —
        // the same value any engine computes from the same pixels
        (d.width, d.height, s.toDouble / (1000.0 * d.lumaMilli.length))
      case None => (0, 0, 0.0)
    }
    MediaFeatures(mediaId, sniffFormat(bytes), bytes.length.toLong,
      entropy, mean, w, h, ml)
  }

  /** Batched feature extraction: one pass per partition, decoder state
    * amortised across the partition's rows. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition seam: heavyweight decoder state (a JNI codec,
        // an ffmpeg context) initialises HERE once; ImageIO itself is
        // stateless per call
        rows.map { case (id, b) =>
          decodeImage(id, if (b == null) Array.emptyByteArray else b)
        }
      }
  }

  /** Frame sampling plumbing for video payloads: emit every n-th
    * "frame" reference as (media_id, frame_no). STUB: a real build
    * would demux; the cardinality/explode shape is the real part. */
  def sampleFrames(media: DataFrame, everyN: Int = 30, maxFrames: Int = 10): DataFrame =
    media.select(col("media_id"),
      explode(sequence(lit(0L), lit(((maxFrames - 1) * everyN).toLong), lit(everyN.toLong)))
        .as("frame_no"))

  /** Resize planning: emit (media_id, target_w, target_h, scale) rows
    * for a batch resize pass — aspect-preserving, never upscaling.
    * Undecodable payloads (width = height = 0) plan to 0×0 at scale
    * 1.0 (nothing to resize — the honest propagation of the decode
    * verdict, not a 1×1 fabrication). */
  def resizePlan(features: Dataset[MediaFeatures], maxSide: Int = 256): DataFrame = {
    import features.sparkSession.implicits._
    features.map { f =>
      if (f.width <= 0 || f.height <= 0) (f.media_id, 0, 0, 1.0)
      else {
        val scale = math.min(1.0, maxSide.toDouble / math.max(f.width, f.height))
        (f.media_id, math.max(1, math.round(f.width * scale).toInt),
          math.max(1, math.round(f.height * scale).toInt), scale)
      }
    }.toDF("media_id", "target_w", "target_h", "scale")
  }

  /** Frame-series analytics over media payloads — the video-shaped
    * half of the multimodal surface. Three stages, each the real
    * 100 TB shape:
    *  1. demux: payload → fixed-stride frame windows via an explode
    *     whose cardinality is `min(maxFrames, ceil(len/stride))` (STUB
    *     demux — byte slices stand in for decoded frames; a real build
    *     swaps the slice for the container parser, the explode shape
    *     stays);
    *  2. per-frame feature kernel: batched per partition (`mapPartitions`
    *     — decoder state amortised), here the frame's mean byte level;
    *  3. windowed analytics over the (media_id, frame_no) series:
    *     lag-window level deltas, scene cut = |Δ| > cutThreshold, plus
    *     order-invariant decimal aggregation of the level series.
    * Returns (media_id, n_frames, n_cuts, mean_level). Frame features
    * are integer-sum ÷ length rationals, so the whole pipeline is
    * bit-reproducible and oracle-checkable. */
  def frameSceneStats(
      media: DataFrame,
      frameLen: Int = 64,
      stride: Int = 64,
      maxFrames: Int = 16,
      cutThreshold: Double = 8.0): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val nFrames = least(lit(maxFrames.toLong),
      ceil(length(col("bytes")).cast("double") / stride).cast("long"))
    val frames = media
      .filter(length(col("bytes")) >= 1)
      .select(col("media_id"),
        explode(sequence(lit(0L), nFrames - 1)).as("frame_no"),
        col("bytes"))
      .select(col("media_id"), col("frame_no"),
        col("bytes").substr(
          (col("frame_no") * stride + 1).cast("int"), lit(frameLen)).as("frame"))
    val feats = frames.as[(Long, Long, Array[Byte])]
      .mapPartitions { rows =>
        // frame-decoder init would happen HERE, once per partition
        rows.map { case (id, f, b) =>
          var s = 0L; var i = 0
          while (i < b.length) { s += (b(i) & 0xff); i += 1 }
          (id, f, s.toDouble / b.length)
        }
      }.toDF("media_id", "frame_no", "mean_byte")
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_no"))
    feats
      .withColumn("prev", lag(col("mean_byte"), 1).over(w))
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(when(col("prev").isNotNull &&
          abs(col("mean_byte") - col("prev")) > cutThreshold, 1L)
          .otherwise(0L)).as("n_cuts"),
        graft.expr.Exprs.exactAvg(col("mean_byte")).as("mean_level"))
      .select(col("media_id"), col("n_frames"), col("n_cuts"),
        round(col("mean_level"), 6).as("mean_level"))
  }

  // ---------------------------------------------------------------
  // Real-container VIDEO path (RIFF/AVI demux + MJPEG via ImageIO)
  // ---------------------------------------------------------------

  /** One demuxed AVI video: 'avih' dimensions/timing plus every
    * video-stream frame payload ('00dc' compressed / '00db' raw DIB)
    * in file order. For MJPEG — the one AVI codec whose frames are
    * plain JPEGs — each payload decodes through the SAME ImageIO path
    * as still images ([[decodeLuma]]), which is what makes the frame
    * pipeline real end-to-end with zero new dependencies. */
  final case class AviVideo(
      width: Int, height: Int, usecPerFrame: Long,
      frames: Vector[Array[Byte]])

  private def leU32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def fourCc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Pure-JVM AVI DEMUX — RIFF container walking. Headers are just
    * bytes (the [[sniffFormat]] discipline): each chunk is
    * fourCC + little-endian u32 size + data, even-padded; 'LIST'
    * chunks carry a subtype and nest. The walk collects the 'avih'
    * main header (dimensions, µs/frame) and every stream-0 video
    * chunk. Returns None unless the RIFF/'AVI ' magic matches and a
    * plausible 'avih' parses; a malformed chunk ends the walk with
    * the frames seen so far (truncated files demux their prefix —
    * the honest salvage a crawl pipeline wants). Modern codecs
    * (H.264 etc.) still DEMUX fine — their frame payloads simply
    * fail ImageIO downstream and report undecodable per frame. */
  def demuxAvi(bytes: Array[Byte]): Option[AviVideo] = {
    if (bytes.length < 12 || fourCc(bytes, 0) != "RIFF" ||
      fourCc(bytes, 8) != "AVI ") return None
    var width = 0; var height = 0; var usec = 0L
    val frames = Vector.newBuilder[Array[Byte]]
    // Iterative walk over an explicit segment stack — crawled media is
    // adversarial input, so (a) chunk ends are computed in LONG (a
    // declared u32 size near Int.MaxValue must not wrap negative and
    // dodge the bounds check), (b) LIST nesting depth is heap-bounded,
    // never JVM-stack-bounded, and (c) a defensive catch turns ANY
    // malformed-structure surprise into the documented salvage: the
    // walk ends with the frames seen so far (truncated files demux
    // their prefix). A malformed chunk ends its ENCLOSING segment's
    // walk (the parent resumes after the bad LIST — the recursive
    // original's early-return scope, preserved exactly).
    try {
      var segs: List[(Int, Int)] = List((12, bytes.length))
      while (segs.nonEmpty) {
        var (o, to) = segs.head
        segs = segs.tail
        var descend = false
        while (!descend && o + 8 <= to) {
          val id = fourCc(bytes, o)
          val sz = leU32(bytes, o + 4)
          val dataStart = o + 8
          val dataEndL = dataStart.toLong + sz // Long: no Int wrap
          if (dataEndL > to) o = to // malformed: end THIS segment only
          else {
            val dataEnd = dataEndL.toInt
            val next = dataEnd + (sz.toInt & 1) // chunks pad to even
            if (id == "LIST" && sz >= 4) {
              // walk the LIST body first (file order), then resume here
              segs = (dataStart + 4, dataEnd) :: (next, to) :: segs
              descend = true
            } else {
              if (id == "avih" && sz >= 40) {
                usec = leU32(bytes, dataStart)
                width = leU32(bytes, dataStart + 32).toInt
                height = leU32(bytes, dataStart + 36).toInt
              } else if (id.startsWith("00") &&
                (id.endsWith("dc") || id.endsWith("db"))) {
                frames += java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
              }
              o = next
            }
          }
        }
      }
    } catch { case _: RuntimeException => () /* salvage frames seen */ }
    if (width <= 0 || height <= 0) None
    else Some(AviVideo(width, height, usec, frames.result()))
  }

  /** Grayscale-JPEG encoder — [[encodeGrayPng]]'s sibling through the
    * REAL JDK JPEG writer. JPEG is LOSSY: decoded samples come back
    * within a few counts of the input, so round-trip oracles must
    * quantize (see [[videoSceneStats]]' mid-bucket discipline) —
    * never compare raw samples. */
  def encodeGrayJpeg(w: Int, h: Int, pixels: Array[Int]): Array[Byte] = {
    require(w >= 1 && h >= 1 && pixels.length == w * h,
      s"need $w x $h = ${w * h} pixels, got ${pixels.length}")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, pixels(y * w + x) & 0xff); x += 1 }
      y += 1
    }
    encodePooled(img, "jpg")
  }

  /** MJPEG-in-AVI ENCODER — the video fixture factory
    * ([[encodePcmWav]]/[[encodeGrayPng]]'s pattern one container up):
    * each solid/patterned gray frame JPEG-encodes through the real
    * ImageIO writer, and the RIFF scaffolding (hdrl: avih + strl
    * (strh/strf with the MJPG fourCC), movi with '00dc' chunks, idx1)
    * assembles byte-for-byte — so [[demuxAvi]] is exercised against a
    * structurally complete AVI, not a shortcut. Frame gray values
    * should sit MID-BUCKET (8 + 16·k) so JPEG quantization error
    * never crosses a bucket edge — the discipline that makes the
    * decode formula-oracle-checkable despite the lossy codec. */
  def encodeMjpegAvi(
      w: Int, h: Int, grayFrames: Seq[Array[Int]],
      usecPerFrame: Long = 40000L): Array[Byte] = {
    require(grayFrames.nonEmpty, "need at least one frame")
    val bo = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if ((data.length & 1) == 1) Array(0.toByte)
        else Array.emptyByteArray
      cc(id) ++ le32(data.length.toLong) ++ data ++ pad
    }
    def list(subtype: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(subtype) ++ children)
    val jpegs = grayFrames.map(encodeGrayJpeg(w, h, _))
    val n = jpegs.length.toLong
    val avih = le32(usecPerFrame) ++ le32(0) ++ le32(0) ++
      le32(0x10) /* HASINDEX */ ++ le32(n) ++ le32(0) ++
      le32(1) /* one stream */ ++ le32(0) ++
      le32(w.toLong) ++ le32(h.toLong) ++ Array.fill(16)(0.toByte)
    val strh = cc("vids") ++ cc("MJPG") ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(usecPerFrame) /* scale */ ++
      le32(1000000L) /* rate: rate/scale = fps */ ++ le32(0) ++
      le32(n) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array.fill(8)(0.toByte) /* rcFrame */
    val strf = le32(40) ++ le32(w.toLong) ++ le32(h.toLong) ++
      Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++
      cc("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val moviChunks = jpegs.map(j => chunk("00dc", j))
    val movi = list("movi", moviChunks.flatten.toArray)
    val idx1 = {
      var off = 4L // offsets relative to the 'movi' list data start
      val rows = moviChunks.map { c =>
        val r = cc("00dc") ++ le32(0x10) /* KEYFRAME */ ++
          le32(off) ++ le32(c.length.toLong - 8 - (c.length & 1))
        off += c.length
        r
      }
      chunk("idx1", rows.flatten.toArray)
    }
    val body = cc("AVI ") ++ hdrl ++ movi ++ idx1
    bo.write(cc("RIFF")); bo.write(le32(body.length.toLong)); bo.write(body)
    bo.toByteArray
  }

  /** Deterministic synthetic video table — the video round-trip
    * fixture (qm16), [[syntheticAudio]]'s discipline one modality up:
    * doc id becomes a 16×16 MJPEG AVI with n = 2 + (id mod 4) frames
    * at 40000 µs/frame; frame k is SOLID gray 8 + 16·((id + k div 2)
    * mod 16) — mid-bucket values, so the lossy JPEG round-trip can
    * never move a frame across its 16-level luma bucket. All of
    * (n_frames, per-frame bucket) are pure formulas over doc_id an
    * oracle replays WITHOUT seeing bytes, while the engine runs
    * formulas → [[encodeMjpegAvi]] (real JPEG writer + RIFF
    * assembly) → binary column → [[demuxAvi]] + [[decodeLuma]] (real
    * RIFF walk + real JPEG decode): a lie anywhere in the container
    * or codec path breaks formula parity. */
  def syntheticVideos(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"))
      .as[Long]
      .mapPartitions { rows =>
        rows.map { id =>
          val n = (2 + (id % 4)).toInt
          val frames = (0 until n).map { k =>
            val g = (8 + 16 * ((id + k / 2) % 16)).toInt
            Array.fill(16 * 16)(g)
          }
          (id, encodeMjpegAvi(16, 16, frames))
        }
      }
      .toDF("media_id", "bytes")
      .select(col("media_id"), col("bytes"), lit("video/avi").as("mime"),
        map(lit("origin"), lit("synthetic-mjpeg")).as("meta"))
  }

  /** REAL video scene statistics — [[frameSceneStats]]' byte-window
    * stub replaced by the real container + codec: per payload, one
    * [[demuxAvi]] RIFF walk, one ImageIO JPEG decode PER FRAME
    * ([[decodeLuma]] — the still-image path, initialised once per
    * partition), each decoded frame reduced to its 16-level luma
    * bucket floor(meanLumaMilli / bucketMilli), and the bucket series
    * folded into (n_frames, n_decoded, n_cuts, mean_bucket) — a cut
    * is a bucket CHANGE between consecutive decoded frames. Bucketing
    * is the lossy-codec discipline: JPEG error is a few counts,
    * bucket width is 16 gray levels, so mid-bucket fixtures replay
    * exactly in SQL while real footage gets a stable, quantized
    * scene signal.
    *
    * Scale shape: one row per payload in, one out — corpus
    * parallelism is row-level (a video is one file); LONG videos
    * shard upstream by time range before ingest. Frames never leave
    * the executor; undecodable frames (foreign codecs inside a valid
    * AVI) count in n_frames but not n_decoded, and the cut series
    * runs over decoded frames only. Non-AVI payloads are excluded
    * (the [[decodedSignatures]] contract). */
  def videoSceneStats(media: DataFrame, bucketMilli: Int = 16000): DataFrame = {
    require(bucketMilli >= 1, "bucketMilli must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, b) =>
          demuxAvi(if (b == null) Array.emptyByteArray else b).map { v =>
            var nDec = 0L
            var cuts = 0L
            var bucketSum = 0L
            var prev = Long.MinValue
            v.frames.foreach { f =>
              decodeLuma(f).foreach { d =>
                var s = 0L
                var i = 0
                while (i < d.lumaMilli.length) { s += d.lumaMilli(i); i += 1 }
                val bucket = s / d.lumaMilli.length / bucketMilli
                if (prev != Long.MinValue && bucket != prev) cuts += 1
                prev = bucket
                bucketSum += bucket
                nDec += 1
              }
            }
            (id, v.width, v.height, v.usecPerFrame,
              v.frames.length.toLong, nDec, cuts,
              if (nDec > 0)
                BigDecimal(bucketSum) ./(BigDecimal(nDec))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              else 0.0)
          }
        }
      }
      .toDF("media_id", "width", "height", "usec_per_frame",
        "n_frames", "n_decoded", "n_cuts", "mean_bucket")
  }

  /** Wrap a raw binary column into the media contract from any table
    * (used by tests to fabricate media rows from text bytes). */
  def asMedia(df: DataFrame, idCol: String, binCol: String, mime: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      col(binCol).cast("binary").as("bytes"),
      lit(mime).as("mime"),
      map(lit("origin"), lit("synthetic")).as("meta"))

  /** Deterministic stub embedding from media bytes: `dims` doubles in
    * [0, 1) carved from the md5 of the content. An honest stand-in for
    * the model-inference embedder this container cannot run — the
    * SHAPE is the real thing: embeddings derive from bytes on
    * executors as a narrow expression, land in an array<double>
    * column, and flow straight into the Similarity operators
    * (bucketing, ANN). Portable across engines (md5 + integer parse +
    * one IEEE division per dim), so the whole media→vector bridge is
    * oracle-checkable. */
  def stubEmbedding(bytes: Column, dims: Int = 4): Column = {
    require(dims >= 1 && dims <= 4, "md5 yields 4 x 32-bit chunks")
    array((0 until dims).map(j =>
      conv(substring(md5(bytes), 1 + 8 * j, 8), 16, 10).cast("double") /
        lit(4294967296.0)): _*)
  }

  /** Sign-LSH bucket for a [0,1)-valued embedding: bit j set iff
    * dim j >= 0.5 — the hookup from [[stubEmbedding]] into bucketed
    * similarity search (equi-join on the bucket id). */
  def signBucket(emb: Column, dims: Int = 4): Column =
    (0 until dims).map(j =>
      when(element_at(emb, j + 1) >= 0.5, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Content-chunk deduplication over binary payloads — the
    * storage-dedup primitive for media lakes: split each payload into
    * fixed-size chunks, hash each, and count how many chunk instances
    * are the FIRST occurrence of their hash corpus-wide ("stored");
    * the rest would deduplicate away in content-addressed storage.
    * First occurrence is total-ordered by (media_id, chunk idx), so
    * the stored/duplicate split is deterministic.
    *
    * Fixed-stride chunking is the stub for content-defined chunking
    * (a production CDC cutter needs a rolling hash over the byte
    * stream — per-partition imperative code, the [[decodeImage]]
    * seam); the relational shape downstream — chunk-hash shuffle,
    * first-occurrence window, per-media rollup — is identical and is
    * what scales. A pathological hot chunk (e.g. a zero block shared
    * by everything) concentrates its window partition; production
    * runs cap or df-cut such hashes exactly like qd04's stop-phrase
    * shingles. */
  /** Deterministic Gear byte table, low 8 bits only: gear8(b) = the
    * first byte of md5("gear:b") — reproducible by any engine, and the
    * only bits the cut mask below can observe. */
  def gearTable8: Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(256)(b => md.digest(s"gear:$b".getBytes("UTF-8"))(0) & 0xFF)
  }

  /** Content-DEFINED chunk dedup — the production replacement for
    * [[chunkDedupStats]]'s fixed stride: chunk boundaries are Gear
    * rolling-hash cut points, so an insertion or deletion only
    * disturbs the chunks overlapping the edit and every later chunk
    * re-aligns on content (shift resistance — the property that makes
    * content-addressed storage dedupe across near-identical media).
    *
    * Gear semantics, made per-position for engine parity: the rolling
    * state is h_i = (h_{i-1} << 1) + gear[b_i], and the cut test is
    * (h_i & 255) == 0. Because a term shifted j positions contributes
    * nothing BELOW bit j (and carries only propagate upward), the
    * masked low 8 bits of h_i depend on exactly the trailing 8 bytes:
    * h_i & 255 = (Σ_{j=0..7} gear8(b_{i-j}) · 2^j) & 255. That makes
    * the cut rule a pure per-position expression — no sequential fold,
    * no custom partition iterator — which both Spark and the SQL
    * oracle evaluate identically. Mean chunk ≈ 256 bytes (the mask's
    * zero probability); no min/max clamp (documented simplification —
    * a clamp re-introduces sequential state).
    *
    * Operates on a TEXT column under an enforced ASCII contract
    * (byte-positional and char-positional chunking coincide only when
    * 1 char = 1 byte; a non-ASCII row raise_errors instead of silently
    * diverging from the oracle). Downstream is [[chunkDedupStats]]'s
    * relational shape unchanged: chunk-hash shuffle, first-occurrence
    * window, per-media rollup — that is what scales.
    */
  /** (media_id, idx, h): Gear content-defined chunk md5s per media
    * row — the shared chunking front of [[gearChunkDedupStats]] and
    * [[gearChunkNearDupPairs]]. */
  private def gearChunks(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = docs.filter(length(col(textCol)) >= 1)
      .select(col(idCol).as("media_id"), col(textCol).as("txt"))
    // ASCII gate folded into the length so it cannot be pruned away
    val lenCk = length(col("txt")) +
      when(octet_length(col("txt")) =!= length(col("txt")),
        raise_error(concat(lit("gearChunkDedupStats: non-ASCII text in media "),
          col("media_id").cast("string"))).cast("int"))
        .otherwise(lit(0))
    // the true single-pass rolling form, as a codegen kernel: two
    // integer ops per byte vs 8 × (substr + ascii + element_at) per
    // position for the expression form (measured ~20× on sf0.1; the
    // kernel and the windowed oracle provably agree — see GearCuts)
    val cutsExpr = call_function("graft_gear_cuts", col("txt"))
    val bounds = array_sort(array_distinct(concat(
      array(lit(0)), col("cuts"), array(col("len")))))
    base
      .withColumn("len", lenCk)
      .withColumn("cuts", cutsExpr)
      .withColumn("bounds", bounds)
      .select(col("media_id"),
        posexplode(transform(sequence(lit(1), size(col("bounds")) - 1),
          k => md5(col("txt").substr(element_at(col("bounds"), k) + 1,
            element_at(col("bounds"), k + 1) - element_at(col("bounds"), k)))))
          .as(Seq("idx", "h")))
  }

  /** Public read of the Gear chunk table — (media_id, idx, h): one row
    * per content-defined chunk occurrence, in payload order. The
    * primitive the CAS family shares; the streaming ingest feed
    * ([[graft.streaming.EventStreams.chunkIngestFeed]]) probes a
    * stored distinct-hash set with exactly these rows. */
  def gearChunkHashes(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    gearChunks(docs, idCol, textCol)

  def gearChunkDedupStats(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = gearChunks(docs, idCol, textCol)
    val w = Window.partitionBy(col("h")).orderBy(col("media_id"), col("idx"))
    chunks.withColumn("rn", row_number().over(w))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("long").as("n_stored"))
      .select(col("media_id"), col("n_chunks"), col("n_stored"),
        (col("n_stored").cast("double") / col("n_chunks").cast("double"))
          .as("stored_ratio"))
  }

  /** Shift-resistant media NEAR-DUP pairs — content-defined chunking
    * composed with set similarity (the CAS identity applied to
    * near-duplicate detection): two media rows pair when the jaccard
    * of their DISTINCT Gear-chunk md5 sets meets `threshold`. Because
    * Gear cut points re-align on content after an insertion/deletion,
    * an edited file still shares every untouched chunk — where
    * fixed-stride framing (measured: 1 pair found on the sf0.01
    * corpus vs 5 here at t=0.5) loses every chunk after the edit
    * point. Granularity is storage-level (avg 256-byte chunks):
    * coarser than qd02's shingles, byte-format-agnostic — it works on
    * any binary payload, not just tokenizable text.
    *
    * Scale shape: candidates via the chunk-hash inverted index — an
    * equi-join on md5 keys, lossless for jaccard > 0 (a qualifying
    * pair shares ≥ 1 chunk) — then one array_intersect verify per
    * candidate. No all-pairs anywhere. */
  def gearChunkNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val sets = graft.core.OpCache.persist(
      gearChunks(docs, idCol, textCol)
        .groupBy(col("media_id"))
        .agg(array_sort(collect_set(col("h"))).as("hs"))
        .withColumn("nh", size(col("hs"))))
    val tok = sets.select(col("media_id"), explode(col("hs")).as("h"))
    val cand = tok.as("a").join(tok.as("b"),
        col("a.h") === col("b.h") && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"))
      .distinct()
    cand
      .join(sets.select(col("media_id").as("a_id"), col("hs").as("a_hs"),
        col("nh").as("na")), "a_id")
      .join(sets.select(col("media_id").as("b_id"), col("hs").as("b_hs"),
        col("nh").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_hs"), col("b_hs"))).as("inter"),
        col("na"), col("nb"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def chunkDedupStats(media: DataFrame, chunkLen: Int = 64): DataFrame = {
    require(chunkLen >= 1)
    import org.apache.spark.sql.expressions.Window
    val nChunks = expr(s"(length(bytes) + ${chunkLen - 1}) div $chunkLen")
    val chunks = media.filter(length(col("bytes")) >= 1)
      .select(col("media_id"),
        posexplode(transform(sequence(lit(1), nChunks),
          i => md5(col("bytes").substr((i - lit(1)) * chunkLen + 1,
            lit(chunkLen))))).as(Seq("idx", "h")))
    val w = Window.partitionBy(col("h")).orderBy(col("media_id"), col("idx"))
    chunks.withColumn("rn", row_number().over(w))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("long").as("n_stored"))
      .select(col("media_id"), col("n_chunks"), col("n_stored"),
        (col("n_stored").cast("double") / col("n_chunks").cast("double"))
          .as("stored_ratio"))
  }

  /** Content-addressed-storage GARBAGE COLLECTION — the mark-and-sweep
    * that completes the CAS lifecycle [[chunkDedupStats]] opens: chunks
    * are stored once under their content hash, media rows are deleted
    * over time, and a chunk whose every referencing row is gone is an
    * ORPHAN the sweeper may reclaim. Classic refcount-free GC shape:
    *  - mark: the distinct chunk-hash set of LIVE media (semi-join on
    *    the live id set — the live set is metadata, the payload bytes
    *    are only ever chunk-hashed once);
    *  - sweep: stored hashes anti-joined against the mark set.
    * Output: (h, n_refs) — each orphaned chunk hash with how many
    * (dead) references pointed at it, the sweeper's work list.
    *
    * Scale shape: two hash-shuffles on 16-byte md5 keys (distinct +
    * anti-join), both map-side combinable; no window, no pairs. The
    * same plan serves fixed-stride and Gear chunking — the chunk
    * table's provenance is irrelevant to the sweep. */
  def chunkOrphans(
      media: DataFrame,
      liveIds: DataFrame,
      chunkLen: Int = 64): DataFrame = {
    require(chunkLen >= 1)
    val nChunks = expr(s"(length(bytes) + ${chunkLen - 1}) div $chunkLen")
    // consumed by BOTH the mark (live hashes) and the sweep (stored
    // refs) — persist so the payload bytes are chunk-hashed once and
    // only the narrow (media_id, h) rows are revisited
    val chunks = graft.core.OpCache.persist(
      media.filter(length(col("bytes")) >= 1)
        .select(col("media_id"),
          explode(transform(sequence(lit(1), nChunks),
            i => md5(col("bytes").substr((i - lit(1)) * chunkLen + 1,
              lit(chunkLen))))).as("h")))
    val live = chunks
      .join(liveIds.select(col("media_id")), Seq("media_id"), "left_semi")
      .select(col("h")).distinct()
    chunks.join(live, Seq("h"), "left_anti")
      .groupBy(col("h"))
      .agg(count(lit(1)).cast("long").as("n_refs"))
  }

  /** Shared kernel for the perceptual-hash family: ONE pass over a
    * length-`n` stream (`v(p)` = the non-negative signal at position
    * p) accumulating BOTH complementary 60-segment averages:
    *
    *  - CONTIGUOUS — segment j = ⌊p·60/n⌋ (blocks in stream order,
    *    the classic aHash layout);
    *  - INTERLEAVED — segment j = p mod 60 (stride-60 combs), whose
    *    segment membership is structurally independent of the block
    *    layout, so the two 60-bit words together form a 120-bit
    *    signature with far higher band-key entropy than either alone
    *    (the round-10 finding: a lone 60-bit hash bands into only
    *    704 keys at maxDist=10, so hamming-join buckets GROW with
    *    the corpus; the 120-bit signature bands into 10–11-bit keys
    *    — see [[hammingPairs]]).
    *
    * Bit j of each word is 1 iff segment j's mean beats the global
    * mean; both compares are integer CROSS-MULTIPLIES
    * (segSum·n > total·segCnt) — no doubles, no rounding,
    * bit-reproducible on any engine with 64-bit ints, and invariant
    * under any uniform scale of v (gain / brightness). Segments an
    * interleaved comb leaves empty at n < 60 compare 0 > 0 = false →
    * bit 0, matching the SQL oracles' coalesce convention. 60 bits
    * keep each word a positive BIGINT everywhere (the
    * hash60/simhash60 convention). */
  private def segHashPair(n: Int, v: Int => Long): (Long, Long) = {
    if (n == 0) return (0L, 0L)
    val cSum = new Array[Long](60)
    val cCnt = new Array[Long](60)
    val iSum = new Array[Long](60)
    val iCnt = new Array[Long](60)
    var total = 0L
    var p = 0
    while (p < n) {
      val x = v(p)
      val jc = (p.toLong * 60L / n).toInt
      cSum(jc) += x
      cCnt(jc) += 1
      val ji = p % 60
      iSum(ji) += x
      iCnt(ji) += 1
      total += x
      p += 1
    }
    var h1 = 0L
    var h2 = 0L
    var j = 0
    while (j < 60) {
      if (cSum(j) * n > total * cCnt(j)) h1 |= (1L << j)
      if (iSum(j) * n > total * iCnt(j)) h2 |= (1L << j)
      j += 1
    }
    (h1, h2)
  }

  /** 60-bit average-hash (aHash) over a media payload — the
    * perceptual-hash family's simplest member, on the stub decode:
    * the byte stream stands in for the pixel stream (a real build
    * decodes + downsamples first; the hash/threshold/banding below is
    * the real aHash logic). The payload splits into 60 CONTIGUOUS
    * segments (byte p → segment ⌊p·60/n⌋), bit j = 1 iff segment j's
    * mean byte exceeds the global mean ([[segHashPair]]'s first
    * word). Pair search uses the full 120-bit signature —
    * [[aHash120]]. */
  def aHash60(mediaId: Long, bytes: Array[Byte]): Long =
    aHash120(bytes)._1

  /** The full 120-bit byte-stream signature: (contiguous,
    * interleaved) 60-bit words from one pass ([[segHashPair]]). */
  def aHash120(bytes: Array[Byte]): (Long, Long) =
    segHashPair(bytes.length, p => (bytes(p) & 0xff).toLong)

  /** Per-media perceptual-signature table: (media_id, ahash, ahash2)
    * — the two complementary 60-bit words of [[aHash120]], one pass
    * per payload. Runs in the decode seam ([[extractFeatures]]'
    * mapPartitions discipline). */
  def perceptualHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, b) =>
          val (h1, h2) = aHash120(if (b == null) Array.emptyByteArray else b)
          (id, h1, h2)
        }
      }
      .toDF("media_id", "ahash", "ahash2")
  }

  /** Composed MEDIA curation — qt13's lifecycle for binary payloads:
    * exact byte dedup (md5 of the payload, keep the lowest media_id —
    * the qd01 collapse), then perceptual near-dedup among the
    * survivors ([[phashNearDupPairs]]'s banded hamming join; drop any
    * id with a smaller-id neighbor within `maxDist` — qd07's greedy
    * keep rule). Stage order matters at 100 TB for the same reason as
    * text: exact collapse first removes the duplicate mass that would
    * otherwise explode the perceptual buckets.
    *
    * @return surviving (media_id, n_bytes) */
  def curateMedia(media: DataFrame, maxDist: Int = 10): DataFrame = {
    // null payloads hash as empty (one exact-dup group), matching
    // aHash60's null handling — null must not escape the dedup
    val hashed = media.select(col("media_id"), col("bytes"),
      md5(coalesce(col("bytes"), lit(Array.empty[Byte]))).as("__h"))
    val keepW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col("media_id"))
    val s1 = graft.core.OpCache.persist(
      hashed.withColumn("__rn", row_number().over(keepW))
        .filter(col("__rn") === 1)
        .select(col("media_id"), col("bytes")))
    val dropped = phashNearDupPairs(s1, maxDist)
      .select(col("b_id").as("media_id")).distinct()
    s1.join(dropped, Seq("media_id"), "left_anti")
      .select(col("media_id"),
        length(col("bytes")).cast("long").as("n_bytes"))
  }

  /** Near-duplicate media pairs by hamming distance on the 120-bit
    * perceptual signature: banded equi-join (maxDist+1 bands over
    * the 120 bits — pigeonhole guarantees any pair within maxDist
    * matches on ≥1 band, so candidate generation is COMPLETE), exact
    * popcount verify. The simhash60 discipline applied to media
    * payloads; same linear shuffle, no all-pairs. */
  def phashNearDupPairs(media: DataFrame, maxDist: Int = 3): DataFrame =
    hammingPairs(perceptualHashes(media), maxDist)

  /** The (band, bkey) extraction for [[hammingPairs]]' 120-bit
    * signature: band b of nBands covers the CONCATENATED bit range
    * [⌊b·120/nBands⌋, ⌊(b+1)·120/nBands⌋) — bits 0–59 from `h1`,
    * 60–119 from `h2`; a band spanning the word boundary ORs the two
    * word fragments into one key. All shift/mask constants are
    * compile-time per band — the whole extraction stays inside
    * whole-stage codegen. */
  private[graft] def bandKey120(h1: Column, h2: Column, b: Int, nBands: Int): Column = {
    val lo = b * 120 / nBands
    val hi = (b + 1) * 120 / nBands
    val p1 =
      if (lo < 60) {
        val w1 = math.min(hi, 60) - lo
        Some(shiftright(h1, lo).bitwiseAND(lit((1L << w1) - 1)))
      } else None
    val p2 =
      if (hi > 60) {
        val lo2 = math.max(lo, 60) - 60
        val w2 = hi - math.max(lo, 60)
        val base = shiftright(h2, lo2).bitwiseAND(lit((1L << w2) - 1))
        Some(if (lo < 60) shiftleft(base, 60 - lo) else base)
      } else None
    (p1, p2) match {
      case (Some(a), Some(c)) => a.bitwiseOR(c)
      case (Some(a), None)    => a
      case (None, Some(c))    => c
      case _                  => lit(0L)
    }
  }

  /** Banded hamming-distance pair search over any (media_id, ahash,
    * ahash2) signature table — the candidate-complete (pigeonhole)
    * banding shared by the byte-stream ([[phashNearDupPairs]]),
    * decoded-pixel ([[curateMediaDecoded]]) and audio-envelope
    * ([[curateAudioDecoded]]) perceptual families. Distance = summed
    * popcount over both 60-bit words (the 120-bit signature
    * [[segHashPair]] emits in one pass).
    *
    * Band-key entropy is WHY the signature is 120 bits wide (the
    * round-10 fix): at maxDist = 10 a lone 60-bit hash bands into
    * 11 × 5–6-bit keys — a 704-key total space whose buckets GROW
    * with the survivor count (measured: max 222 at sf0.01 → 2.1k at
    * sf0.1 on the audio envelopes; superlinear join cost on the ×30
    * duplicated corpus). The 120-bit signature bands into 11 keys of
    * 10–11 bits (21 504-key space, ~30× wider), so candidate volume
    * thins as the corpus grows instead of riding Σ bucket².
    * `maxBucketSize` remains as a BACKSTOP, capping each (band,
    * bkey) bucket at the lowest media_ids: far above every bucket at
    * the oracle scales (outputs equal uncapped semantics there —
    * asserted per round), it bounds the candidate volume a
    * pathological hash cluster (e.g. a near-constant-signal flood
    * whose signature is all zeros) can emit at corpus scale. A
    * trimmed pair is only found through its other bands, so the cap
    * is a recall trade beyond oracle scales — kept observable via
    * the retired BucketProbe (SCALING.md "Retired tools") rather than
    * advertised away. */
  private def hammingPairs(h: DataFrame, maxDist: Int,
      maxBucketSize: Int = 4096): DataFrame = {
    require(maxDist >= 0 && maxDist < 60, "maxDist in 0..59")
    val nBands = maxDist + 1
    val raw = h.select(col("media_id"), col("ahash"), col("ahash2"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          bandKey120(col("ahash"), col("ahash2"), b, nBands).as("bkey"))
      }: _*)).as("bs"))
      .select(col("media_id"), col("ahash"), col("ahash2"),
        col("bs.band").as("band"), col("bs.bkey").as("bkey"))
    val banded = raw
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey")).orderBy(col("media_id"))))
      .filter(col("__rn") <= maxBucketSize)
      .drop("__rn")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"),
        (bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))) +
          bit_count(col("a.ahash2").bitwiseXOR(col("b.ahash2"))))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
  }

  // ---------------------------------------------------------------
  // Real-codec image path (ImageIO round-trip) — qm10/qm11/qm12
  // ---------------------------------------------------------------

  /** Deterministic synthetic image table from a text corpus — the
    * REAL-CODEC round-trip fixture the decoded-image queries run on:
    * doc id becomes a w×h grayscale PNG (w = 8 + id mod 25,
    * h = 8 + (id div 3) mod 25 — 8..32 px a side) whose row-major
    * pixel p is the byte code of the text's char at (p mod len). All
    * of (w, h, pixels) are pure formulas over (doc_id, text) an
    * oracle replays WITHOUT ever seeing the bytes, while the engine
    * path runs text → [[encodeGrayPng]] (real JDK PNG encoder) →
    * binary column → [[decodeLuma]] (real ImageIO decode): a lie
    * anywhere in the codec path breaks formula parity and fails the
    * hash compare. Chars must be single bytes (the ASCII contract of
    * the Gear family) — a wider char fails loudly. */
  def syntheticImages(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col(textCol)) >= 1)
      .select(col(idCol).cast("long").as("media_id"), col(textCol).as("txt"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, txt) =>
          val w = (8 + (id % 25)).toInt
          val h = (8 + ((id / 3) % 25)).toInt
          val len = txt.length
          val px = Array.tabulate(w * h) { p =>
            val c = txt.charAt(p % len).toInt
            if (c > 255) throw new IllegalArgumentException(
              s"syntheticImages: non-byte char in doc $id")
            c
          }
          (id, encodeGrayPng(w, h, px))
        }
      }
      .toDF("media_id", "bytes")
      .select(col("media_id"), col("bytes"), lit("image/png").as("mime"),
        map(lit("origin"), lit("synthetic-png")).as("meta"))
  }

  /** [[aHash60]] over a decoded luma stream (lumaMilli ints): the
    * contiguous word of [[lumaAHash120]] — integer cross-multiplies,
    * no division, and SCALE-INVARIANT (segSum·n > total·segCnt holds
    * for v and 1000·v alike), so an oracle may replay it on raw
    * 0–255 values while the engine hashes Rec.601 thousandths. */
  def lumaAHash60(luma: Array[Int]): Long =
    lumaAHash120(luma)._1

  /** The full 120-bit decoded-pixel signature: (contiguous,
    * interleaved) 60-bit words over the row-major luma stream, one
    * pass ([[segHashPair]]; both words scale-invariant). */
  def lumaAHash120(luma: Array[Int]): (Long, Long) =
    segHashPair(luma.length, p => luma(p).toLong)

  /** Feed a big-endian int stream into a digest through one FIXED
    * per-partition 64 KiB block — never a whole-stream buffer. A
    * multi-hour decodable recording (hundreds of millions of
    * samples) must not allocate 4·n bytes per row, and 4·n in Int
    * arithmetic overflows negative past ~536 M samples — the chunked
    * update has neither failure mode. `buf` is the partition-scoped
    * scratch block (codec-seam init-once discipline). */
  private def digestIntsBE(
      md: java.security.MessageDigest, buf: Array[Byte],
      vs: Array[Int]): Unit = {
    var i = 0
    var o = 0
    while (i < vs.length) {
      val v = vs(i)
      buf(o) = (v >>> 24).toByte
      buf(o + 1) = (v >>> 16).toByte
      buf(o + 2) = (v >>> 8).toByte
      buf(o + 3) = v.toByte
      o += 4
      if (o == buf.length) { md.update(buf, 0, o); o = 0 }
      i += 1
    }
    if (o > 0) md.update(buf, 0, o)
  }

  private def hex(digest: Array[Byte]): String =
    digest.map("%02x".format(_)).mkString

  /** One REAL decode pass per payload → the two curation signals:
    * (media_id, width, height, luma_md5, ahash, ahash2) — exact
    * pixel identity (md5 over the big-endian lumaMilli stream,
    * chunk-fed: no whole-image buffer) and the perceptual
    * [[lumaAHash120]] signature, all from the same [[decodeLuma]]
    * call so the payload is decoded exactly once. Undecodable
    * payloads are EXCLUDED: a row the codec cannot read has no pixel
    * identity (an upstream quality gate owns it). Digest instance and
    * scratch block initialised once per partition — the codec-seam
    * discipline. */
  def decodedSignatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](65536)
        rows.flatMap { case (id, b) =>
          decodeLuma(if (b == null) Array.emptyByteArray else b).map { d =>
            md.reset()
            digestIntsBE(md, buf, d.lumaMilli)
            val key = hex(md.digest())
            val (h1, h2) = lumaAHash120(d.lumaMilli)
            (id, d.width, d.height, key, h1, h2)
          }
        }
      }
      .toDF("media_id", "width", "height", "luma_md5", "ahash", "ahash2")
  }

  /** REAL pixel-resize EXECUTION (the work [[resizePlan]] plans):
    * integer BOX-AVERAGE downsample of the decoded luma raster to
    * tw×th. Target pixel (tx, ty) averages the half-open source box
    * [⌊tx·w/tw⌋, ⌊(tx+1)·w/tw⌋) × [⌊ty·h/th⌋, ⌊(ty+1)·h/th⌋) — never
    * empty when w ≥ tw and h ≥ th — and the mean is the FLOOR integer
    * division of the lumaMilli sum: all-integer arithmetic, so every
    * output pixel replays exactly in SQL. One decode+resize pass per
    * payload at the codec seam; output (media_id, tx, ty, v_milli)
    * rows are ordinary columnar data for downstream feature work
    * (this 8×8 grid is precisely the input the canonical aHash
    * thresholds). Payloads that cannot decode, or are smaller than
    * the target, are excluded. */
  def resizeLumaBox(media: DataFrame, tw: Int = 8, th: Int = 8): DataFrame = {
    require(tw >= 1 && th >= 1, "target dims must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, b) =>
          decodeLuma(if (b == null) Array.emptyByteArray else b) match {
            case Some(d) if d.width >= tw && d.height >= th =>
              val out = new Array[(Long, Int, Int, Long)](tw * th)
              var i = 0
              var ty = 0
              while (ty < th) {
                val y0 = ty * d.height / th
                val y1 = (ty + 1) * d.height / th
                var tx = 0
                while (tx < tw) {
                  val x0 = tx * d.width / tw
                  val x1 = (tx + 1) * d.width / tw
                  var s = 0L
                  var n = 0L
                  var y = y0
                  while (y < y1) {
                    var x = x0
                    while (x < x1) {
                      s += d.lumaMilli(y * d.width + x); n += 1; x += 1
                    }
                    y += 1
                  }
                  out(i) = (id, tx, ty, s / n)
                  i += 1
                  tx += 1
                }
                ty += 1
              }
              out.iterator
            case _ => Iterator.empty
          }
        }
      }
      .toDF("media_id", "tx", "ty", "v_milli")
  }

  /** [[curateMedia]] on DECODED PIXELS — the composed curation the
    * real codec path unlocks: exact dedup keys on the decoded luma
    * stream identity (width, height, luma md5 — encoding details like
    * PNG filter choices can no longer split identical images), then
    * perceptual near-dedup among survivors via [[lumaAHash60]]'s
    * banded hamming join (drop any id with a smaller-id neighbor
    * within `maxDist` — qd07's greedy keep rule). One decode pass
    * feeds both stages ([[decodedSignatures]] persisted). Collapse-
    * first ordering is the same 100 TB argument as qm09.
    *
    * @return surviving (media_id, n_px) */
  def curateMediaDecoded(media: DataFrame, maxDist: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = graft.core.OpCache.persist(decodedSignatures(media))
    val keepW = Window
      .partitionBy(col("width"), col("height"), col("luma_md5"))
      .orderBy(col("media_id"))
    val s1 = graft.core.OpCache.persist(
      sig.withColumn("__rn", row_number().over(keepW))
        .filter(col("__rn") === 1)
        .select(col("media_id"), col("width"), col("height"),
          col("ahash"), col("ahash2")))
    val dropped = hammingPairs(
      s1.select(col("media_id"), col("ahash"), col("ahash2")), maxDist)
      .select(col("b_id").as("media_id")).distinct()
    s1.join(dropped, Seq("media_id"), "left_anti")
      .select(col("media_id"),
        (col("width").cast("long") * col("height").cast("long")).as("n_px"))
  }

  /** One REAL demux + decode pass per payload → the video identity
    * signal ([[decodedSignatures]] one container up): (media_id,
    * width, height, n_frames, frames_md5) — frames_md5 digests the
    * CONCATENATED decoded per-frame luma streams in frame order, so
    * two AVIs whose frames decode to the same pixels share an
    * identity however their container bytes differ (chunk padding,
    * index layout, interleaving). Payloads that fail demux or whose
    * ANY frame fails decode are EXCLUDED — a partial identity would
    * let two different videos collide on their decodable prefix. */
  def decodedVideoSignatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](65536)
        rows.flatMap { case (id, b) =>
          demuxAvi(if (b == null) Array.emptyByteArray else b).flatMap { v =>
            val decoded = v.frames.map(decodeLuma)
            if (decoded.exists(_.isEmpty)) None
            else {
              md.reset()
              decoded.flatten.foreach(d => digestIntsBE(md, buf, d.lumaMilli))
              val key = hex(md.digest())
              Some((id, v.width, v.height, v.frames.length.toLong, key))
            }
          }
        }
      }
      .toDF("media_id", "width", "height", "n_frames", "frames_md5")
  }

  /** [[lumaAHash60]] for SOUND — the 60-segment amplitude-ENVELOPE
    * hash over decoded channel-0 samples: bit j set iff segment j's
    * mean ABSOLUTE amplitude beats the track's global mean (integer
    * cross-multiplies, no division anywhere). GAIN-INVARIANT the way
    * the image hash is brightness-scale-invariant (segSum·n >
    * total·segCnt holds for |s| and g·|s| alike), so a re-leveled
    * copy of a recording still pairs with its original. */
  def envelopeHash60(samples: Array[Int]): Long =
    envelopeHash120(samples)._1

  /** The full 120-bit audio-envelope signature: (contiguous,
    * interleaved) 60-bit words over |channel-0 samples|, one pass
    * ([[segHashPair]]; both words gain-invariant). */
  def envelopeHash120(samples: Array[Int]): (Long, Long) =
    segHashPair(samples.length, p => math.abs(samples(p).toLong))

  /** One REAL audio decode pass per payload → the two curation
    * signals ([[decodedSignatures]] for sound): (media_id,
    * sample_rate, n_samples, pcm_md5, env_hash, env_hash2) — exact
    * SAMPLE-STREAM identity (md5 over the big-endian channel-0 ints,
    * chunk-fed: a multi-hour recording never materialises a whole-
    * track buffer, and 4·n can't overflow Int; keyed with rate and
    * length so container and header details — WAV vs AIFF, junk
    * chunks — can no longer split identical recordings) plus the
    * perceptual [[envelopeHash120]] signature, all from ONE
    * [[decodePcm]] call. Undecodable payloads are EXCLUDED (an
    * upstream quality gate owns them); digest and scratch block
    * initialised once per partition — the codec-seam discipline. */
  def decodedAudioSignatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](65536)
        rows.flatMap { case (id, b) =>
          decodePcm(if (b == null) Array.emptyByteArray else b).map { d =>
            md.reset()
            digestIntsBE(md, buf, d.samples)
            val key = hex(md.digest())
            val (h1, h2) = envelopeHash120(d.samples)
            (id, d.sampleRate, d.samples.length.toLong, key, h1, h2)
          }
        }
      }
      .toDF("media_id", "sample_rate", "n_samples", "pcm_md5",
        "env_hash", "env_hash2")
  }

  /** [[curateMediaDecoded]] for AUDIO — the composed curation the real
    * audio codec unlocks: exact dedup keys on the decoded
    * sample-stream identity (sample_rate, n_samples, pcm md5 — a
    * re-containered or junk-padded copy of the same recording
    * collapses), then envelope-hamming near-dedup among survivors
    * ([[envelopeHash60]] through the same banded pigeonhole join as
    * the pixel path; drop any id with a smaller-id neighbor within
    * `maxDist` — qd07's greedy keep). One decode pass feeds both
    * stages; collapse-first ordering is the same 100 TB argument as
    * qm09/qm12.
    *
    * @return surviving (media_id, sample_rate, n_samples) */
  def curateAudioDecoded(media: DataFrame, maxDist: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = graft.core.OpCache.persist(decodedAudioSignatures(media))
    val keepW = Window
      .partitionBy(col("sample_rate"), col("n_samples"), col("pcm_md5"))
      .orderBy(col("media_id"))
    val s1 = graft.core.OpCache.persist(
      sig.withColumn("__rn", row_number().over(keepW))
        .filter(col("__rn") === 1)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("env_hash"), col("env_hash2")))
    val dropped = hammingPairs(
      s1.select(col("media_id"), col("env_hash").as("ahash"),
        col("env_hash2").as("ahash2")), maxDist)
      .select(col("b_id").as("media_id")).distinct()
    s1.join(dropped, Seq("media_id"), "left_anti")
      .select(col("media_id"), col("sample_rate"), col("n_samples"))
  }
}

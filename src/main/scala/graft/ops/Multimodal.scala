package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in batched `mapPartitions`.
  *
  * All three modalities decode for REAL with the JDK alone:
  *  - IMAGE: actual PNGs, decoded via `javax.imageio` ([[decodeImage]]) —
  *    dimensions + a luminance histogram of the decoded pixels;
  *  - AUDIO: actual PCM WAV streams, decoded via `javax.sound.sampled`
  *    ([[decodeAudio]]) — sample count, RMS, Goertzel band energies;
  *  - VIDEO: actual MJPEG-in-AVI streams — [[decodeVideo]] walks the
  *    RIFF/AVI container (hand-rolled chunk parser, the format is a
  *    4-byte-fourcc/length walk) and decodes every `00dc` MJPEG frame
  *    with the JDK's JPEG ImageIO plugin — frame count, dimensions, and
  *    a per-frame-bucketed mean-luminance curve. MJPEG is the one video
  *    codec reachable without external libraries; an H.264/VP9 corpus
  *    would swap [[decodeVideo]] for a JNI/ONNX decoder, changing one
  *    function while every Spark-side shape (schema, batch iteration,
  *    partition sizing, output) stays as exercised here.
  * [[decodeStub]] remains only as the documented fallback for unknown
  * kinds.
  */
object Multimodal {

  // ImageIO's stream factories spill every encode/decode through a temp
  // FILE in java.io.tmpdir unless the JVM-global ImageIO.setUseCache(false)
  // is set. Payloads here are in-memory byte arrays (MJPEG pays the disk
  // round-trip per frame), so the codec helpers hand ImageIO the
  // memory-cached streams that switch would select: the same bytes, on
  // any JVM the code runs on, with no global state changed for other
  // ImageIO users.
  private def writeImage(
      img: java.awt.image.RenderedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, format, out)
    finally out.close() // flushes into bos
    bos.toByteArray
  }

  private def readImage(payload: Array[Byte], offset: Int,
      length: Int): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload, offset, length)))

  /** Typed metadata carried beside the binary payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = false)))

  /** A real PNG of deterministic pseudo-random pixels — what a repo's
    * image blobs look like to the pipeline, without any external data.
    */
  def syntheticPng(rnd: scala.util.Random, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, rnd.nextInt(0x1000000))
        x += 1
      }
      y += 1
    }
    writeImage(img, "png")
  }

  /** A real 16-bit mono PCM WAV (RIFF/WAVE via `AudioSystem.write`) of a
    * deterministic two-sine-plus-noise waveform — what a repo's audio
    * blobs look like to the pipeline, without any external data.
    */
  def syntheticWav(
      rnd: scala.util.Random, nSamples: Int, sampleRate: Int): Array[Byte] = {
    val f1 = 100.0 + rnd.nextInt(3000)
    val f2 = 100.0 + rnd.nextInt(3000)
    val data = new Array[Byte](nSamples * 2)
    var t = 0
    while (t < nSamples) {
      val v = 0.5 * math.sin(2 * math.Pi * f1 * t / sampleRate) +
        0.25 * math.sin(2 * math.Pi * f2 * t / sampleRate) +
        0.1 * (rnd.nextDouble() * 2 - 1)
      val s = math.max(-32768L, math.min(32767L, math.round(v * 20000))).toInt
      data(2 * t) = (s & 0xFF).toByte // little-endian PCM
      data(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def le32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
    out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
  }
  private def fourcc(out: java.io.ByteArrayOutputStream, s: String): Unit =
    out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** A real MJPEG-in-AVI stream (RIFF container, one `vids/MJPG` stream,
    * one `00dc` chunk per JPEG-encoded frame) of deterministic
    * gradient-plus-noise frames — what a repo's video blobs look like to
    * the pipeline, without any external data or codec.
    */
  def syntheticAviMjpeg(rnd: scala.util.Random, w: Int, h: Int,
      nFrames: Int, fps: Int): Array[Byte] = {
    val frames = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // per-frame brightness ramp + pseudo-random texture: frame content
      // CHANGES over time, so the decoded luminance curve carries signal
      val base = (f * 200) / math.max(1, nFrames - 1)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val n = rnd.nextInt(56)
          val v = math.min(255, base + n)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      writeImage(img, "jpg")
    }

    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      fourcc(out, id); le32(out, body.length.toLong)
      out.write(body)
      if (body.length % 2 == 1) out.write(0) // RIFF chunks are word-aligned
      out.toByteArray
    }
    def list(kind: String, bodies: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      fourcc(out, "LIST")
      le32(out, (4 + bodies.map(_.length).sum).toLong)
      fourcc(out, kind)
      bodies.foreach(out.write)
      out.toByteArray
    }

    val avih = {
      val out = new java.io.ByteArrayOutputStream()
      le32(out, 1000000L / fps) // dwMicroSecPerFrame
      le32(out, 0); le32(out, 0); le32(out, 0)
      le32(out, nFrames.toLong) // dwTotalFrames
      le32(out, 0); le32(out, 1) // dwStreams
      le32(out, 0)
      le32(out, w.toLong); le32(out, h.toLong)
      (0 until 4).foreach(_ => le32(out, 0))
      chunk("avih", out.toByteArray)
    }
    val strh = {
      val out = new java.io.ByteArrayOutputStream()
      fourcc(out, "vids"); fourcc(out, "MJPG")
      le32(out, 0); le32(out, 0); le32(out, 0)
      le32(out, 1); le32(out, fps.toLong) // dwScale / dwRate
      le32(out, 0); le32(out, nFrames.toLong) // dwStart / dwLength
      le32(out, 0); le32(out, 0); le32(out, 0) // suggBuf, quality, sampleSize
      // rcFrame: 4 LE16 shorts (left, top, right, bottom)
      le32(out, 0); le32(out, ((h.toLong & 0xFFFF) << 16) | (w & 0xFFFF))
      chunk("strh", out.toByteArray)
    }
    val strf = {
      val out = new java.io.ByteArrayOutputStream()
      le32(out, 40); le32(out, w.toLong); le32(out, h.toLong)
      out.write(1); out.write(0); out.write(24); out.write(0) // planes, bpp
      fourcc(out, "MJPG")
      le32(out, (w * h * 3).toLong)
      (0 until 4).foreach(_ => le32(out, 0))
      chunk("strf", out.toByteArray)
    }
    val hdrl = list("hdrl", avih, list("strl", strh, strf))
    val movi = list("movi", frames.map(chunk("00dc", _)): _*)

    val out = new java.io.ByteArrayOutputStream()
    fourcc(out, "RIFF")
    le32(out, (4 + hdrl.length + movi.length).toLong)
    fourcc(out, "AVI ")
    out.write(hdrl); out.write(movi)
    out.toByteArray
  }

  /** Pure per-row generator shared by the distributed path and the
    * driver-side oracle (determinism pin for the mapPartitions plumbing).
    * Image rows carry a REAL decodable PNG whose metadata matches its
    * actual dimensions; audio rows a REAL decodable PCM WAV whose
    * duration_ms matches its sample count; video rows a REAL decodable
    * MJPEG AVI whose duration_ms matches its frame count and rate.
    */
  def syntheticRow(i: Long, seed: Long): (Long, String, String,
      Option[Int], Option[Int], Option[Long], Array[Byte]) = {
    val rnd = new scala.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))
    val kind = Seq("image", "audio", "video")((i % 3).toInt)
    if (kind == "image") {
      val w = 4 + rnd.nextInt(13)
      val h = 4 + rnd.nextInt(13)
      (i, kind, "image/png", Some(w), Some(h), None, syntheticPng(rnd, w, h))
    } else if (kind == "audio") {
      val rate = 8000
      val n = 400 + rnd.nextInt(1200)
      (i, kind, "audio/wav", None, None, Some(n * 1000L / rate),
        syntheticWav(rnd, n, rate))
    } else {
      val w = 8 + rnd.nextInt(9)
      val h = 8 + rnd.nextInt(9)
      val nFrames = 4 + rnd.nextInt(7)
      val fps = 4
      (i, kind, "video/avi", Some(w), Some(h),
        Some(nFrames * 1000L / fps),
        syntheticAviMjpeg(rnd, w, h, nFrames, fps))
    }
  }

  /** Deterministic synthetic media table (payload = pseudo-random bytes
    * derived from the id) for tests and benchmarks.
    */
  def synthesize(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map(i => syntheticRow(i, seed))
      .toDF("media_id", "kind", "mime", "width", "height", "duration_ms",
        "payload")
  }

  /** STUB decoder — retained only as the documented fallback for media
    * kinds outside image/audio/video (all three of which have REAL
    * decoders here): derives a deterministic `featureDim`-float vector
    * from the raw payload bytes.
    */
  def decodeStub(payload: Array[Byte], featureDim: Int): Array[Float] = {
    val out = new Array[Float](featureDim)
    var h = 0x811C9DC5
    var i = 0
    while (i < payload.length) {
      h = (h ^ payload(i)) * 0x01000193
      out(math.abs(h % featureDim)) += (h & 0xFF) / 255.0f
      i += 1
    }
    out
  }

  /** REAL image decode via the JDK's ImageIO: feature vector =
    * [width, height, luminance histogram over the remaining dims] of the
    * decoded pixels (row-major accumulation — deterministic). Pure
    * function of the pixels, so oracle-side decode(encode(img)) agrees
    * regardless of PNG encoder byte details.
    */
  def decodeImage(payload: Array[Byte], featureDim: Int): Array[Float] = {
    require(featureDim >= 3, s"featureDim $featureDim < 3")
    val img = readImage(payload, 0, payload.length)
    require(img != null, "image payload is not decodable")
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Float](featureDim)
    out(0) = w.toFloat
    out(1) = h.toFloat
    val n = w * h
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        out(2 + lum * (featureDim - 2) / 256) += 1.0f / n
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (PCM WAV needs
    * no external codec): feature vector = [sample count, RMS, Goertzel
    * amplitude in `featureDim - 2` equal-width frequency bands spanning
    * 0..Nyquist]. Pure function of the decoded samples, so oracle-side
    * decode(encode(samples)) agrees regardless of WAV container details.
    */
  def decodeAudio(payload: Array[Byte], featureDim: Int): Array[Float] = {
    require(featureDim >= 3, s"featureDim $featureDim < 3")
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val fmt = in.getFormat
      require(
        fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"unsupported audio format: $fmt (16-bit signed mono PCM only)")
      val bytes = in.readAllBytes()
      val big = fmt.isBigEndian
      val n = bytes.length / 2
      val out = new Array[Float](featureDim)
      out(0) = n.toFloat
      if (n == 0) return out
      val samples = new Array[Double](n)
      var sumSq = 0.0
      var i = 0
      while (i < n) {
        val s =
          if (big) ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xFF)).toShort
          else ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF)).toShort
        val v = s / 32768.0
        samples(i) = v
        sumSq += v * v
        i += 1
      }
      out(1) = math.sqrt(sumSq / n).toFloat
      val nBands = featureDim - 2
      var b = 0
      while (b < nBands) {
        // Goertzel at the band-center normalized frequency
        val w = math.Pi * (b + 0.5) / nBands
        val coeff = 2.0 * math.cos(w)
        var s1 = 0.0
        var s2 = 0.0
        var t = 0
        while (t < n) {
          val s0 = samples(t) + coeff * s1 - s2
          s2 = s1
          s1 = s0
          t += 1
        }
        val power = s1 * s1 + s2 * s2 - coeff * s1 * s2
        out(2 + b) = (math.sqrt(math.max(0.0, power)) / n).toFloat
        b += 1
      }
      out
    } finally in.close()
  }

  /** REAL video decode: walks the RIFF/AVI container (a fourcc + LE32
    * length chunk walk — `LIST` chunks recurse, `avih` carries frame
    * count/dimensions, `00dc`/`00db` chunks carry the MJPEG frames) and
    * decodes every frame with the JDK's JPEG ImageIO plugin. Feature
    * vector = [frame count, width, height, mean luminance (0..1) of the
    * frames bucketed into `featureDim - 3` time buckets] — a temporal
    * brightness curve, the "did the content change over time" signal a
    * frame-dedup pass wants. Pure function of the decoded frames.
    */
  def decodeVideo(payload: Array[Byte], featureDim: Int): Array[Float] = {
    require(featureDim >= 4, s"featureDim $featureDim < 4")
    def u32(off: Int): Long =
      (payload(off) & 0xFFL) | ((payload(off + 1) & 0xFFL) << 8) |
        ((payload(off + 2) & 0xFFL) << 16) |
        ((payload(off + 3) & 0xFFL) << 24)
    def cc(off: Int): String =
      new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(payload.length >= 12 && cc(0) == "RIFF" && cc(8) == "AVI ",
      "payload is not a RIFF/AVI stream")
    var width = 0L
    var height = 0L
    var totalFrames = 0L
    val frameSpans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def walk(start: Int, end: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = cc(off)
        // size stays a Long through the bounds check: a declared size near
        // 2^31 would overflow Int arithmetic and dodge the guard
        val size64 = u32(off + 4)
        // malformed size (past the buffer) must terminate the walk, not
        // loop or read out of bounds
        if (off + 8L + size64 > end) return
        val size = size64.toInt
        if (id == "LIST") walk(off + 12, off + 8 + size)
        else if (id == "avih" && size >= 40) {
          totalFrames = u32(off + 8 + 16)
          width = u32(off + 8 + 32)
          height = u32(off + 8 + 36)
        } else if ((id == "00dc" || id == "00db") && size > 0)
          frameSpans += ((off + 8, size))
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    // Long arithmetic end-to-end: a declared RIFF size near 2^31-8 would
    // overflow `8 + toInt` to a NEGATIVE bound, silently no-op the walk
    // and return an all-zero feature vector (poisoning frame dedup)
    // instead of failing the frame-count check below
    walk(12, math.min(payload.length.toLong, 8L + u32(4)).toInt)
    // the header-declared frame count must agree with the frames actually
    // present — a silently truncated movi list would otherwise decode to a
    // plausible-but-wrong feature vector and poison frame-level dedup
    require(totalFrames == 0 || totalFrames == frameSpans.length,
      s"declared $totalFrames frames, found ${frameSpans.length} " +
        "(truncated stream?)")

    val out = new Array[Float](featureDim)
    out(0) = frameSpans.length.toFloat
    out(1) = width.toFloat
    out(2) = height.toFloat
    val nBuckets = featureDim - 3
    if (frameSpans.isEmpty) return out
    val bucketSum = new Array[Double](nBuckets)
    val bucketN = new Array[Int](nBuckets)
    var f = 0
    while (f < frameSpans.length) {
      val (o, len) = frameSpans(f)
      val img = readImage(payload, o, len)
      require(img != null, s"frame $f is not a decodable JPEG")
      var lum = 0.0
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          lum += (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 255000.0
          x += 1
        }
        y += 1
      }
      val b = f * nBuckets / frameSpans.length
      bucketSum(b) += lum / (img.getWidth * img.getHeight)
      bucketN(b) += 1
      f += 1
    }
    var b = 0
    while (b < nBuckets) {
      if (bucketN(b) > 0) out(3 + b) = (bucketSum(b) / bucketN(b)).toFloat
      b += 1
    }
    out
  }

  /** Per-kind decode dispatch: real ImageIO for images, real
    * javax.sound.sampled for audio, real RIFF/AVI + MJPEG ImageIO for
    * video; the stub only for unknown kinds.
    */
  def decode(kind: String, payload: Array[Byte], featureDim: Int): Array[Float] =
    if (kind == "image") decodeImage(payload, featureDim)
    else if (kind == "audio") decodeAudio(payload, featureDim)
    else if (kind == "video") decodeVideo(payload, featureDim)
    else decodeStub(payload, featureDim)

  /** Feature extraction over the binary column, batched per partition
    * (the mapPartitions shape a real decoder needs: reuse per-partition
    * decoder state, no per-row init).
    */
  def extractFeatures(media: DataFrame, featureDim: Int = 32): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val result: Dataset[(Long, String, Array[Float])] =
      media.select("media_id", "kind", "payload")
        .as[(Long, String, Array[Byte])]
        .mapPartitions { batch =>
          // per-partition decoder init happens here (ImageIO is stateless;
          // a JNI/ONNX audio/video decoder would be constructed once here)
          batch.map { case (id, kind, payload) =>
            (id, kind, decode(kind, payload, featureDim))
          }
        }
    result.toDF("media_id", "kind", "features")
  }

  /** Frame-sampling plan for video rows: deterministic sample timestamps
    * (every `everyMs`), exploded to one row per sampled frame; pairs with
    * [[decodeVideo]]'s per-frame decode when the frames themselves are
    * needed.
    */
  def sampleFrames(media: DataFrame, everyMs: Long = 5000L): DataFrame =
    media
      .where(col("kind") === "video")
      .withColumn("frame_ts",
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))))
      .select("media_id", "mime", "duration_ms", "frame_ts")
}

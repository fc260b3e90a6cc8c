package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque BINARY columns
  * with typed metadata, processed in batched per-partition passes.
  *
  * Decode is REAL for everything the pure JVM can handle:
  * images (PNG/JPEG/BMP/GIF via `javax.imageio` — [[decodeImage]] /
  * [[imageFeatures]]), audio (WAV/AIFF/AU PCM via `javax.sound.sampled`
  * — [[decodeAudio]] / [[audioFeatures]]), and video for MJPEG-in-AVI
  * (RIFF container walk + per-frame JPEG decode — [[decodeVideoMjpeg]] /
  * [[videoFeatures]]). Other video codecs need an FFmpeg binding this
  * container lacks; the generic byte-plumbing stubs (`fakeDecode*` /
  * [[sampleFrames]]) remain for payloads with no installed decoder, and
  * swapping in a JNI decoder changes one function.
  */
object Multimodal {

  /** Decoded raster: dimensions + row-major luminance plane (0-255). */
  final case class DecodedImage(width: Int, height: Int, gray: Seq[Int])

  /** REAL image decode (PNG/JPEG/BMP/GIF — whatever `javax.imageio` has a
    * reader for): BINARY payload → struct(width, height, gray) with gray
    * the Rec.601 luminance plane. Non-image payloads decode to null (the
    * caller filters or falls back). Executor-side, one decode per row.
    */
  val decodeImage: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      if (bytes == null) null
      else
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) null
          else {
            val w = img.getWidth
            val h = img.getHeight
            val gray = new Array[Int](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                gray(y * w + x) = (((rgb >> 16) & 0xff) * 299 +
                  ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
                x += 1
              }
              y += 1
            }
            DecodedImage(w, h, gray.toSeq)
          }
        } catch { case _: Exception => null }
    })

  final case class ResizedImage(width: Int, height: Int, png: Array[Byte])

  /** REAL image resize (headless-safe JDK path): ImageIO decode →
    * bilinear `Graphics2D` scale → PNG re-encode. The thumbnail /
    * fixed-resolution preprocess step of a vision-data pipeline — one
    * decode+scale per row on the executor, output struct(width, height,
    * png). Undecodable payloads resize to null. Replaces the former
    * byte-truncation stub for every format `javax.imageio` reads
    * (PNG/JPEG/BMP/GIF); exotic formats still need native codecs.
    */
  val resizeImage: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte], w: Int, h: Int) => {
      if (bytes == null || w <= 0 || h <= 0) null
      else
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) null
          else {
            val out = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            ResizedImage(w, h, bos.toByteArray)
          }
        } catch { case _: Exception => null }
    })

  /** Image feature columns over real decode: dimensions, aspect ratio,
    * mean brightness, and a 16-bin L1-normalized luminance histogram —
    * the pooled-feature shape a vision-model preprocessor emits. Rows
    * whose payload is not a decodable image get null features.
    */
  def imageFeatures(df: DataFrame, binCol: String): DataFrame = {
    val decoded = df.withColumn("_img", decodeImage(col(binCol)))
    val g = col("_img.gray")
    decoded
      .withColumn("img_width", col("_img.width"))
      .withColumn("img_height", col("_img.height"))
      .withColumn("img_aspect",
        when(col("_img.height") > 0,
          round(col("_img.width").cast("double") / col("_img.height"), 4)))
      .withColumn("img_mean_brightness",
        when(size(g) > 0, round(aggregate(g, lit(0L), _ + _)
          .cast("double") / size(g), 4)))
      .withColumn("img_histogram",
        when(size(g) > 0, transform(
          aggregate(g, array_repeat(lit(0.0), 16),
            (acc, v) => zip_with(acc, sequence(lit(0), lit(15)),
              (a, i) => a + when(v.divide(16).cast("int") === i, 1.0)
                .otherwise(0.0))),
          c => round(c / size(g), 6))))
      .drop("_img")
  }

  /** 64-bit perceptual hashes of one image payload. */
  final case class ImageHashes(ahash: Long, dhash: Long)

  /** Perceptual image hashing (REAL decode): scale to a 9×8 luminance
    * thumbnail (bilinear), then
    *  - `ahash` — bit per 8×8 cell set when its luminance exceeds the
    *    thumbnail mean (average hash);
    *  - `dhash` — bit per horizontally-adjacent pair set when the right
    *    cell is brighter (difference/gradient hash — robust to global
    *    brightness shifts).
    * Near-duplicate images land within a few bits of Hamming distance;
    * undecodable payloads hash to null. The image-side analog of
    * [[Dedup.simhash]].
    */
  val imageHashes: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      if (bytes == null) null
      else
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) null
          else {
            val out = new java.awt.image.BufferedImage(9, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g2 = out.createGraphics()
            g2.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g2.drawImage(img, 0, 0, 9, 8, null)
            g2.dispose()
            val g = Array.tabulate(8, 9) { (y, x) =>
              val rgb = out.getRGB(x, y)
              (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
            }
            var mean = 0L
            for (y <- 0 until 8; x <- 0 until 8) mean += g(y)(x)
            mean /= 64
            var a = 0L; var dh = 0L; var bit = 0
            for (y <- 0 until 8; x <- 0 until 8) {
              if (g(y)(x) > mean) a |= (1L << bit)
              if (g(y)(x + 1) > g(y)(x)) dh |= (1L << bit)
              bit += 1
            }
            ImageHashes(a, dh)
          }
        } catch { case _: Exception => null }
    })

  /** Image near-duplicate pairs by perceptual hash: dHash blocks on 4
    * exact 16-bit sub-keys — a pair within Hamming ≤ 3 is GUARANTEED a
    * shared clean block (pigeonhole); larger distances are found when
    * their differing bits cluster (same recall trade as
    * [[Dedup.simhashCandidates]]). Candidates verify by full 64-bit
    * Hamming on BOTH hashes. The pair space is bucket-joined, never
    * O(n²); undecodable rows drop out. Returns
    * (id_a, id_b, hamming = max of the two hash distances).
    */
  def imageNearDups(df: DataFrame, idCol: String, binCol: String,
                    maxHamming: Int = 6): DataFrame = {
    val hashed = df
      .select(col(idCol).as("_id"), imageHashes(col(binCol)).as("_h"))
      .filter(col("_h").isNotNull)
      .select(col("_id"), col("_h.ahash").as("ah"), col("_h.dhash").as("dh"))
    val blocked = hashed.select(col("_id"), col("ah"), col("dh"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("dh"), i * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "key")
    val a = blocked.select(col("block"), col("key"),
      col("_id").as("id_a"), col("ah").as("ah_a"), col("dh").as("dh_a"))
    val b = blocked.select(col("block"), col("key"),
      col("_id").as("id_b"), col("ah").as("ah_b"), col("dh").as("dh_b"))
    a.join(b, Seq("block", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        greatest(bit_count(col("dh_a").bitwiseXOR(col("dh_b"))),
          bit_count(col("ah_a").bitwiseXOR(col("ah_b")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Deterministic grayscale PNG synthesis (lossless — the image-side
    * test fixture): an 8×8 grid of light/dark blocks whose on/off bits
    * hash from `pattern` through a splitmix64 finalizer, so every
    * pattern id yields a structurally distinct image (≈32 differing
    * blocks between two ids) while equal ids yield byte-identical
    * files. The finalizer matters: the original Knuth-multiply +
    * one-xorshift mix had so little avalanche that fixture patterns
    * (3,23) and (4,24) produced IDENTICAL 8×8 perceptual hashes after
    * the 9×8 bilinear thumbnail — with splitmix64 the minimum pairwise
    * phash distance across the 25 q_image_phash patterns is 19 bits,
    * which is what lets the q_image_phash oracle state "equal pattern ⟺
    * Hamming-0 pair" in closed form.
    */
  def pngGray(width: Int, height: Int, pattern: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bw = math.max(1, width / 8); val bh = math.max(1, height / 8)
    for (y <- 0 until height; x <- 0 until width) {
      val cell = math.min(7, y / bh) * 8 + math.min(7, x / bw)
      var z = pattern * 0x9E3779B97F4A7C15L + cell
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      val v = if ((z & 1L) != 0L) 230 else 25
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decoded audio summary: container format facts + signal features. */
  final case class DecodedAudio(sample_rate: Double, channels: Int,
      bits: Int, n_frames: Long, duration_s: Double, rms: Double,
      peak: Double)

  /** Minimal RIFF/WAVE writer: 16-bit signed little-endian PCM, mono —
    * the deterministic synthesis side of the audio tests (and a generally
    * useful "PCM buffer → playable bytes" utility).
    */
  def wavPcm16Mono(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits
    buf.put("data".getBytes).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** REAL audio decode (WAV/AIFF/AU PCM — whatever `javax.sound.sampled`
    * has a reader for): BINARY payload → format facts (sample rate,
    * channels, bit depth, frame count, duration) + signal features (RMS
    * and peak amplitude in raw sample units, channel-interleaved).
    * Supports 8-bit and 16-bit PCM, signed or unsigned, either
    * endianness. Undecodable payloads → null (the caller filters).
    */
  val decodeAudio: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      if (bytes == null) null
      else
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = in.getFormat
          val bits = fmt.getSampleSizeInBits
          val signed = fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val unsigned = fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
          if (!(signed || unsigned) || (bits != 8 && bits != 16)) null
          else {
            val data = in.readAllBytes()
            val n = data.length / (bits / 8)
            var i = 0
            var sumSq = 0.0
            var peak = 0.0
            while (i < n) {
              val v: Double =
                if (bits == 8) {
                  val b = data(i)
                  if (signed) b.toDouble else (b & 0xff) - 128.0
                } else {
                  val (lo, hi) =
                    if (fmt.isBigEndian) (data(2 * i + 1), data(2 * i))
                    else (data(2 * i), data(2 * i + 1))
                  val s = ((hi << 8) | (lo & 0xff)).toShort
                  if (signed) s.toDouble else ((s & 0xffff) - 32768).toDouble
                }
              sumSq += v * v
              if (math.abs(v) > peak) peak = math.abs(v)
              i += 1
            }
            val frames = in.getFrameLength
            DecodedAudio(fmt.getSampleRate.toDouble, fmt.getChannels, bits,
              frames, frames / fmt.getSampleRate.toDouble,
              if (n > 0) math.sqrt(sumSq / n) else 0.0, peak)
          }
        } catch { case _: Exception => null }
    })

  /** Audio feature columns over real decode — the audio analog of
    * [[imageFeatures]]. Rows whose payload no installed reader handles
    * get null features.
    */
  def audioFeatures(df: DataFrame, binCol: String): DataFrame = {
    val decoded = df.withColumn("_aud", decodeAudio(col(binCol)))
    decoded
      .withColumn("audio_sample_rate", col("_aud.sample_rate"))
      .withColumn("audio_channels", col("_aud.channels"))
      .withColumn("audio_bits", col("_aud.bits"))
      .withColumn("audio_frames", col("_aud.n_frames"))
      .withColumn("audio_duration_s", round(col("_aud.duration_s"), 6))
      .withColumn("audio_rms", round(col("_aud.rms"), 4))
      .withColumn("audio_peak", col("_aud.peak"))
      .drop("_aud")
  }

  /** Decoded video summary: container facts + per-sampled-frame mean
    * luminance (REAL decode of each sampled frame).
    */
  final case class DecodedVideo(width: Int, height: Int, fps: Double,
      n_frames: Int, decoded_frames: Int, frame_means: Seq[Double])

  /** Minimal MJPEG-in-AVI writer (RIFF 'AVI ' with 'hdrl' headers and a
    * 'movi' list of '00dc' JPEG frames) — the deterministic synthesis
    * side of the video tests, and a "JPEG frames → playable container"
    * utility. Every frame must be a complete JPEG image.
    */
  def aviMjpeg(frames: Seq[Array[Byte]], width: Int, height: Int,
               fps: Int): Array[Byte] = {
    def chunk(fourcc: String, body: Array[Byte]): Array[Byte] = {
      val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
      val b = java.nio.ByteBuffer.allocate(8 + padded.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(fourcc.getBytes).putInt(body.length).put(padded)
      b.array()
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes ++ body)
    val avih = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(1000000 / fps).putInt(0).putInt(0).putInt(0)
      b.putInt(frames.size).putInt(0).putInt(1).putInt(0)
      b.putInt(width).putInt(height)
      b.array() // 16 reserved bytes stay zero
    }
    val strh = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("vids".getBytes).put("MJPG".getBytes)
      b.putInt(0).putInt(0).putInt(0)
      b.putInt(1).putInt(fps) // dwScale / dwRate: fps = rate/scale
      b.putInt(0).putInt(frames.size).putInt(0).putInt(-1).putInt(0)
      b.putShort(0).putShort(0)
        .putShort(width.toShort).putShort(height.toShort)
      b.array()
    }
    val strf = {
      val b = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      b.put("MJPG".getBytes).putInt(width * height * 3)
      b.putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      frames.flatMap(f => chunk("00dc", f)).toArray)
    chunk("RIFF", "AVI ".getBytes ++ hdrl ++ movi)
  }

  /** REAL video decode for MJPEG-in-AVI (the one video codec the pure
    * JVM can handle: RIFF container walking + per-frame JPEG decode via
    * `javax.imageio`): container facts (dimensions, fps from the stream
    * header's rate/scale, frame count) plus mean luminance of every
    * `stride`-th frame, each frame ACTUALLY decoded. Other containers /
    * codecs return null — swapping in an FFmpeg binding widens the
    * format matrix without touching the plumbing.
    */
  def decodeVideoMjpeg(bytes: Array[Byte], stride: Int): DecodedVideo = {
    if (bytes == null || bytes.length < 12) return null
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val a = new Array[Byte](4); buf.get(a); new String(a, "US-ASCII")
    }
    if (fourcc() != "RIFF") return null
    buf.getInt // riff size
    if (fourcc() != "AVI ") return null
    var width, height, nFrames = 0
    var scale, rate = 0
    val frames = Vector.newBuilder[Array[Byte]]
    // walk the chunk tree; LISTs of interest ('hdrl'/'strl'/'movi')
    // recurse, everything else skips by size
    def walk(end: Int): Unit = {
      while (buf.position() + 8 <= end) {
        val start = buf.position()
        val id = fourcc()
        val size = buf.getInt
        if (size < 0 || start + 8 + size > bytes.length) return // malformed
        val next = start + 8 + size + (size % 2)
        id match {
          case "LIST" =>
            val kind = fourcc()
            if (kind == "hdrl" || kind == "strl" || kind == "movi")
              walk(buf.position() + size - 4)
          case "avih" =>
            val p = buf.position()
            nFrames = buf.getInt(p + 16)
            width = buf.getInt(p + 32)
            height = buf.getInt(p + 36)
          case "strh" =>
            val p = buf.position()
            val a = new Array[Byte](4)
            buf.get(p, a)
            if (new String(a, "US-ASCII") == "vids") {
              scale = buf.getInt(p + 20)
              rate = buf.getInt(p + 24)
            }
          case dc if dc.endsWith("dc") || dc.endsWith("db") =>
            val body = new Array[Byte](size)
            buf.get(buf.position(), body)
            frames += body
          case _ => ()
        }
        buf.position(math.min(next, end)) // always advances: next > start
      }
    }
    try walk(bytes.length)
    catch { case _: Exception => return null }
    val all = frames.result()
    if (all.isEmpty && nFrames == 0) return null
    val sampled = all.zipWithIndex.filter(_._2 % stride == 0).map(_._1)
    var decoded = 0
    val means = sampled.flatMap { f =>
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(f))
        if (img == null) None
        else {
          decoded += 1
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sum += (((rgb >> 16) & 0xff) * 299 +
                ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
              x += 1
            }
            y += 1
          }
          Some(sum.toDouble / (img.getWidth * img.getHeight))
        }
      } catch { case _: Exception => None }
    }
    DecodedVideo(width, height,
      if (scale > 0) rate.toDouble / scale else 0.0,
      if (nFrames > 0) nFrames else all.size, decoded, means)
  }

  /** Video feature columns over real MJPEG/AVI decode — the video analog
    * of [[imageFeatures]]/[[audioFeatures]]. `stride` samples every n-th
    * frame for the luminance features; undecodable payloads get nulls.
    */
  def videoFeatures(df: DataFrame, binCol: String,
                    stride: Int = 1): DataFrame = {
    val dec = udf((b: Array[Byte]) => decodeVideoMjpeg(b, stride))
    val decoded = df.withColumn("_vid", dec(col(binCol)))
    decoded
      .withColumn("video_width", col("_vid.width"))
      .withColumn("video_height", col("_vid.height"))
      .withColumn("video_fps", round(col("_vid.fps"), 4))
      .withColumn("video_frames", col("_vid.n_frames"))
      .withColumn("video_decoded_frames", col("_vid.decoded_frames"))
      .withColumn("video_frame_means",
        transform(col("_vid.frame_means"), m => round(m, 2)))
      .drop("_vid")
  }

  /** Canonical multimodal schema fragment: payload + typed metadata. */
  def withMediaMetadata(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("media_meta", struct(
      length(col(binCol)).as("n_bytes"),
      lit("application/octet-stream").as("mime"),
      xxhash64(col(binCol)).as("content_hash")))

  // =================================================================
  // STUB decoders — deterministic byte-level fakes for payloads with no
  // installed decoder (non-MJPEG video, proprietary formats). Real
  // implementations replace the body, signatures stay.
  // =================================================================

  /** STUB image decode: "pixels" = raw bytes reinterpreted as unsigned
    * ints. Real impl: JPEG/PNG decode to H×W×C.
    */
  def fakeDecodePixels(bin: Column): Column =
    transform(split(base64(bin), ""),
      c => when(length(c) > 0, ascii(c)).otherwise(0))

  /** Byte-histogram features over the decoded buffer (16 buckets,
    * L1-normalized) — the shape of a pooled CNN feature vector, computed
    * deterministically from bytes.
    */
  def byteHistogramFeatures(bin: Column, buckets: Int = 16): Column = {
    val px = fakeDecodePixels(bin)
    val counts = aggregate(px,
      array_repeat(lit(0.0), buckets),
      (acc, b) => zip_with(acc, sequence(lit(0), lit(buckets - 1)),
        (a, i) => a + when(pmod(b, lit(buckets)) === i, 1.0).otherwise(0.0)))
    transform(counts, c => round(c / greatest(size(px), lit(1)), 6))
  }

  /** STUB frame sampling: split the payload into fixed-size "frames" and
    * keep every `stride`-th — the plumbing of video frame extraction
    * (batch shape: one row in, `ceil(n/frameBytes/stride)` rows out).
    */
  def sampleFrames(df: DataFrame, binCol: String, frameBytes: Int,
                   stride: Int): DataFrame =
    df.select(col("*"),
        posexplode(transform(
          sequence(lit(0),
            greatest(floor((length(col(binCol)) - 1) / lit(frameBytes)),
              lit(0)).cast("int")),
          i => col(binCol).substr((i * frameBytes + 1).cast("int"),
            lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")
      .filter(pmod(col("frame_idx"), lit(stride)) === 0)

  /** End-to-end multimodal feature pass: treat a binary column as media,
    * attach metadata, extract stub features. One scan, no shuffle.
    */
  def extractFeatures(df: DataFrame, binCol: String): DataFrame =
    withMediaMetadata(df, binCol)
      .withColumn("features", byteHistogramFeatures(col(binCol)))
      .withColumn("n_frames",
        (floor(greatest(length(col(binCol)) - 1, lit(0)) / lit(256)) + 1)
          .cast("int"))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * Decode coverage is tiered by what a JVM can honestly do without
  * native libraries:
  *  - REAL decoders for P6 netpbm ([[PpmDecoder]]), PCM WAV
  *    ([[WavDecoder]]) and the JDK's own compressed raster codecs —
  *    PNG/BMP/GIF via `javax.imageio` ([[ImageIoDecoder]]) — plus real
  *    pixel transforms (resize, frame sampling, perceptual hash);
  *  - [[FakeDecoder]] remains ONLY as the stand-in for codecs that
  *    genuinely need native bindings (mp3/flac/h264), producing a
  *    deterministic feature vector from the bytes so the plumbing is
  *    exercised end-to-end.
  * Everything around the [[Decoder]] seam — schema, batch shape,
  * partition sizing, the `mapPartitions` boundary where a JNI/ffmpeg
  * codec would slot in — is identical across tiers. At scale the
  * binary payloads dominate partition size, so callers should set
  * `spark.sql.files.maxPartitionBytes` for the payload, not the row
  * count, and the decode runs embarrassingly parallel with no shuffle.
  */
object Multimodal {

  // ImageIO's DEFAULT image-stream cache is a TEMP FILE per
  // encode/decode call — at 5k tiny assets that is 10k file
  // create/write/delete cycles dwarfing the actual codec work (the
  // q289 bench cost was this, not pixels). Memory-cache instead;
  // executors flip the flag on first use of any codec path below.
  private def ensureMemoryCachedImageIo(): Unit =
    if (javax.imageio.ImageIO.getUseCache) {
      javax.imageio.ImageIO.setUseCache(false)
    }

  /** One media asset: payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      mime: String,
      width: Int,
      height: Int,
      payload: Array[Byte])

  final case class MediaFeatures(
      media_id: Long,
      mime: String,
      n_bytes: Long,
      checksum: Long,
      features: Array[Double])

  /** Pluggable decode step — a real implementation would decode pixels /
    * samples here. Must be deterministic for a given payload. */
  trait Decoder extends Serializable {
    def decode(row: MediaRow): MediaFeatures
  }

  /** STUB decoder: deterministic pseudo-features derived from a rolling
    * hash of the payload bytes. Stands in for "decode + embed" so the
    * distributed plumbing is exercised end-to-end. */
  object FakeDecoder extends Decoder {
    private val Dim = 8
    def decode(row: MediaRow): MediaFeatures = {
      var h = 1125899906842597L
      val feats = new Array[Double](Dim)
      var i = 0
      while (i < row.payload.length) {
        h = 31 * h + (row.payload(i) & 0xff)
        feats(i % Dim) += (row.payload(i) & 0xff) / 255.0
        i += 1
      }
      MediaFeatures(row.media_id, row.mime, row.payload.length.toLong, h, feats)
    }
  }

  /** REAL decoder for binary PPM (P6, netpbm): parses the
    * self-describing header (token whitespace and `#` comments per the
    * spec), validates the payload length against the declared geometry,
    * and extracts features from the actual pixels — per-channel means
    * and luminance min/mean/max. Features:
    * `[width, height, meanR, meanG, meanB, lumaMin, lumaMean, lumaMax]`.
    *
    * This is the same [[Decoder]] slot [[FakeDecoder]] fills, carrying a
    * genuine parse: a JNI/ffmpeg codec plugs in identically — per-batch,
    * map-only, no shuffle. Malformed payloads throw (fail-fast, like a
    * codec would); callers wanting skip-bad-asset semantics filter first. */
  object PpmDecoder extends Decoder {

    /** (width, height, maxval, pixelOffset) from a P6 header at `start`.
      * Dimension values are bounded (≤ 10^8) so `3·w·h` arithmetic below
      * stays in Long safely — a hostile header can't wrap the
      * truncation check into silence. The parse itself lives with the
      * codegen'd perceptual-hash expression (the canonical low-level
      * P6 reader, [[graft.functions.ImageAverageHash.parseP6Header]]). */
    def parseHeader(bytes: Array[Byte], start: Int = 0): (Int, Int, Int, Int) =
      graft.functions.ImageAverageHash.parseP6Header(bytes, start)

    def decode(row: MediaRow): MediaFeatures = {
      val bytes = row.payload
      val (w, h, maxVal, off) = parseHeader(bytes)
      require(maxVal < 256, "only 1-byte-per-sample ppm supported")
      require(bytes.length.toLong - off >= 3L * w * h,
        s"truncated ppm: ${bytes.length - off} pixel bytes for ${w}x$h")
      var (sr, sg, sb) = (0.0, 0.0, 0.0)
      var (lumMin, lumMax, lumSum) = (Double.MaxValue, Double.MinValue, 0.0)
      var checksum = 1125899906842597L
      var p = off
      val end = off + 3 * w * h
      while (p < end) {
        val r = bytes(p) & 0xff
        val g = bytes(p + 1) & 0xff
        val b = bytes(p + 2) & 0xff
        sr += r; sg += g; sb += b
        val luma = 0.299 * r + 0.587 * g + 0.114 * b
        if (luma < lumMin) lumMin = luma
        if (luma > lumMax) lumMax = luma
        lumSum += luma
        checksum = 31 * (31 * (31 * checksum + r) + g) + b
        p += 3
      }
      val n = (w * h).toDouble
      MediaFeatures(row.media_id, "image/x-portable-pixmap",
        bytes.length.toLong, checksum,
        Array(w.toDouble, h.toDouble, sr / n, sg / n, sb / n,
          lumMin, lumSum / n, lumMax))
    }
  }

  /** REAL decoder for PCM WAV (RIFF): walks the chunk list (word-
    * aligned, per the RIFF spec) to the `fmt ` and `data` chunks,
    * validates every declared size against the payload, then computes
    * signal features from the actual 16-bit little-endian samples —
    * RMS level, peak, and zero-crossing rate (all channels
    * interleaved). Features:
    * `[channels, sampleRate, nFrames, durationSec, rms, peak, zcr]`.
    *
    * Same [[Decoder]] slot as [[PpmDecoder]]: the audio modality's
    * parse is genuine; a native codec (mp3/flac) would plug into the
    * identical per-batch map-only boundary. Malformed payloads throw
    * fail-fast; hostile chunk sizes cannot overrun (every advance is
    * bounds-checked) or wrap (sizes read as unsigned into Long). */
  object WavDecoder extends Decoder {

    /** (channels, sampleRate, bitsPerSample, dataOffset, dataBytes). */
    def parseHeader(b: Array[Byte]): (Int, Int, Int, Int, Int) = {
      def u32(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
      def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      def tag(i: Int): String = new String(b, i, 4, "US-ASCII")
      require(b.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
        "not a RIFF/WAVE payload")
      var i = 12
      var fmt: Option[(Int, Int, Int)] = None
      var data: Option[(Int, Int)] = None
      while (i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
        val id = tag(i)
        val sz = u32(i + 4)
        require(sz <= b.length.toLong - i - 8,
          s"chunk $id declares $sz bytes past end of payload")
        val szi = sz.toInt
        if (id == "fmt ") {
          require(szi >= 16, s"fmt chunk too small ($szi)")
          require(u16(i + 8) == 1, "only PCM (format 1) wav supported")
          fmt = Some((u16(i + 10), u32(i + 12).toInt, u16(i + 22)))
        } else if (id == "data") data = Some((i + 8, szi))
        i += 8 + szi + (szi & 1) // RIFF chunks are word-aligned
      }
      val (ch, rate, bits) = fmt.getOrElse(
        throw new IllegalArgumentException("missing fmt chunk"))
      val (off, len) = data.getOrElse(
        throw new IllegalArgumentException("missing data chunk"))
      require(ch >= 1 && ch <= 64, s"implausible channel count $ch")
      require(rate >= 1, s"bad sample rate $rate")
      (ch, rate, bits, off, len)
    }

    def decode(row: MediaRow): MediaFeatures = {
      val bytes = row.payload
      val (ch, rate, bits, off, len) = parseHeader(bytes)
      require(bits == 16, s"only 16-bit PCM supported, got $bits")
      val nSamples = len / 2
      val nFrames = nSamples / ch
      var (sumSq, peak) = (0.0, 0.0)
      var crossings = 0L
      var prevSign = 0
      var checksum = 1125899906842597L
      var p = off
      val end = off + nSamples * 2
      while (p + 1 < end) {
        val s = ((bytes(p) & 0xff) | (bytes(p + 1) << 8)).toShort.toInt
        val x = s / 32768.0
        sumSq += x * x
        val ax = math.abs(x)
        if (ax > peak) peak = ax
        val sign = if (s > 0) 1 else if (s < 0) -1 else prevSign
        if (prevSign != 0 && sign != prevSign) crossings += 1
        prevSign = sign
        checksum = 31 * checksum + s
        p += 2
      }
      val n = math.max(1L, nSamples).toDouble
      MediaFeatures(row.media_id, "audio/x-wav", bytes.length.toLong,
        checksum,
        Array(ch.toDouble, rate.toDouble, nFrames.toDouble,
          nFrames.toDouble / rate, math.sqrt(sumSq / n), peak,
          crossings / n))
    }
  }

  /** REAL decoder for the JDK's own raster codecs (PNG, BMP, GIF —
    * `javax.imageio` ships with the JVM, no native libs): decodes the
    * actual compressed bytes to pixels and emits the SAME feature
    * layout as [[PpmDecoder]] — `[width, height, meanR, meanG, meanB,
    * lumaMin, lumaMean, lumaMax]` — so the two decoders are
    * interchangeable behind the [[Decoder]] seam and a spec can pin
    * PNG-decoded features equal to the uncompressed PPM twin's.
    * Headless-safe (pure BufferedImage, no display pipeline);
    * malformed payloads throw fail-fast like a codec would. */
  object ImageIoDecoder extends Decoder {
    def decode(row: MediaRow): MediaFeatures = {
      ensureMemoryCachedImageIo()
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.payload))
      require(img != null,
        s"imageio could not decode media_id=${row.media_id} " +
          s"(${row.payload.length} bytes)")
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0.0, 0.0, 0.0)
      var (lumMin, lumMax, lumSum) = (Double.MaxValue, Double.MinValue, 0.0)
      var checksum = 1125899906842597L
      // bulk row fetch: per-pixel getRGB(x, y) pays a ColorModel
      // conversion PER CALL and made this the engine's slowest query;
      // the row variant returns the identical ARGB ints (same
      // checksum, same features) at ~10x the throughput
      val rowBuf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val rgb = rowBuf(x)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          sr += r; sg += g; sb += b
          val luma = 0.299 * r + 0.587 * g + 0.114 * b
          if (luma < lumMin) lumMin = luma
          if (luma > lumMax) lumMax = luma
          lumSum += luma
          checksum = 31 * (31 * (31 * checksum + r) + g) + b
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toDouble
      MediaFeatures(row.media_id, row.mime, row.payload.length.toLong,
        checksum,
        Array(w.toDouble, h.toDouble, sr / n, sg / n, sb / n,
          lumMin, lumSum / n, lumMax))
    }
  }

  /** Encode pixel bytes (P6 layout in → real PNG out) through the
    * JDK's PNG writer: the twin generator that lets the ImageIO path
    * run on GENUINELY compressed bytes while the expected features
    * stay defined by the same pixels as the PPM asset. */
  def encodePng(ppmPayload: Array[Byte]): Array[Byte] = {
    ensureMemoryCachedImageIo()
    val (w, h, maxVal, off) = PpmDecoder.parseHeader(ppmPayload)
    require(maxVal < 256, "only 1-byte-per-sample ppm supported")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = off + 3 * (y * w + x)
        img.setRGB(x, y, ((ppmPayload(p) & 0xff) << 16) |
          ((ppmPayload(p + 1) & 0xff) << 8) | (ppmPayload(p + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos),
      "JDK png writer unavailable")
    bos.toByteArray
  }

  /** Nearest-neighbor resize of a PNG/BMP payload through the real
    * decode→raster→re-encode cycle (mirrors [[resizePpm]]'s sampling
    * arithmetic exactly, so the block-pattern fixtures survive a
    * cross-codec resize with identical pixels). */
  def resizeImageIo(payload: Array[Byte], outW: Int, outH: Int,
      format: String = "png"): Array[Byte] = {
    require(outW > 0 && outH > 0, "target geometry must be positive")
    ensureMemoryCachedImageIo()
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "imageio could not decode payload")
    val out = new java.awt.image.BufferedImage(outW, outH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // bulk row get/set (same ARGB ints as the per-pixel calls, minus
    // the per-call ColorModel conversion — the q289 lesson)
    val srcW = img.getWidth
    val srcBuf = new Array[Int](srcW)
    val outBuf = new Array[Int](outW)
    var y = 0
    while (y < outH) {
      val srcY = y * img.getHeight / outH
      img.getRGB(0, srcY, srcW, 1, srcBuf, 0, srcW)
      var x = 0
      while (x < outW) {
        outBuf(x) = srcBuf(x * srcW / outW)
        x += 1
      }
      out.setRGB(0, y, outW, 1, outBuf, 0, outW)
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(out, format, bos),
      s"JDK $format writer unavailable")
    bos.toByteArray
  }

  /** Demo media table of real PNG assets (same pixels as
    * [[ppmFromDocuments]]'s gradients, genuinely PNG-compressed),
    * payloads generated on-executor — no driver materialization, no
    * shuffle. */
  def pngFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val w = 8 + (id % 8).toInt
        val h = 8 + (id % 5).toInt
        MediaRow(id, "image/png", w, h, encodePng(generatePpm(w, h, id)))
      }
  }

  /** Deterministic PCM WAV asset: seeded dual-tone sine (StrictMath —
    * bit-identical on every executor/JVM), 16-bit mono. */
  def generateWav(rate: Int, nFrames: Int, freqHz: Double,
      amplitude: Double = 0.5): Array[Byte] = {
    val dataLen = nFrames * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      val t = i.toDouble / rate
      val x = amplitude * (0.8 * StrictMath.sin(2 * math.Pi * freqHz * t) +
        0.2 * StrictMath.sin(2 * math.Pi * 2.5 * freqHz * t))
      out.putShort(math.round(x * 32767).toShort)
      i += 1
    }
    out.array()
  }

  /** Demo audio table keyed off `documents` ids — rate/length/pitch
    * vary per id, payloads generated on-executor (no driver
    * materialization, no shuffle). */
  def wavFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val rate = 8000
        val frames = 400 + (id % 17).toInt * 40
        val freq = 220.0 + (id % 24) * 20.0
        MediaRow(id, "audio/x-wav", frames, 1,
          generateWav(rate, frames, freq))
      }
  }

  /** Nearest-neighbor resize of a P6 payload — a real pixel transform
    * on the decode path (the north-star "resize" verb). Pure function
    * of the bytes; runs inside `map`/`mapPartitions` with no shuffle. */
  def resizePpm(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    require(outW > 0 && outH > 0, "target geometry must be positive")
    val (w, h, maxVal, off) = PpmDecoder.parseHeader(payload)
    require(maxVal < 256, "only 1-byte-per-sample ppm supported")
    require(payload.length - off >= 3 * w * h, "truncated ppm")
    val header = s"P6\n$outW $outH\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + 3 * outW * outH)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    var y = 0
    while (y < outH) {
      val srcY = y * h / outH
      var x = 0
      while (x < outW) {
        val srcX = x * w / outW
        val src = off + 3 * (srcY * w + srcX)
        out(p) = payload(src); out(p + 1) = payload(src + 1)
        out(p + 2) = payload(src + 2)
        p += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Resize every asset in a media table (metadata updated to match).
    * Map-only; a real image pipeline swaps `resizePpm` for its codec the
    * same way `featurize` swaps decoders. */
  def resize(media: Dataset[MediaRow], outW: Int, outH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map(r => r.copy(width = outW, height = outH,
      payload = resizePpm(r.payload, outW, outH)))
  }

  /** Split a concatenated-P6 "video" payload into frames, walking the
    * self-describing headers (each frame declares its own pixel-byte
    * length, so the scan is a single O(bytes) pass — each frame is
    * sliced straight out of the payload, no per-frame rescans). */
  def splitFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    val frames = Seq.newBuilder[Array[Byte]]
    var pos = 0
    while (pos < payload.length) {
      val (w, h, _, off) = PpmDecoder.parseHeader(payload, pos)
      val end = off + 3L * w * h
      require(end <= payload.length, s"truncated frame at byte $pos")
      frames += java.util.Arrays.copyOfRange(payload, pos, end.toInt)
      pos = end.toInt
    }
    frames.result()
  }

  /** Keep every `every`-th frame of each video payload (the north-star
    * "frame-sample" verb), re-concatenated as a P6 stream. Map-only. */
  def sampleFrames(media: Dataset[MediaRow], every: Int): Dataset[MediaRow] = {
    require(every >= 1, "every must be >= 1")
    import media.sparkSession.implicits._
    media.map { r =>
      val kept = splitFrames(r.payload).zipWithIndex
        .collect { case (f, i) if i % every == 0 => f }
      r.copy(payload = kept.flatten.toArray)
    }
  }

  /** Deterministic P6 asset for tests/demo queries: a seeded RGB
    * gradient, so every (width, height, seed) triple produces the same
    * pixels on every executor. */
  def generatePpm(width: Int, height: Int, seed: Long): Array[Byte] = {
    val header = s"P6\n# graft synthetic asset\n$width $height\n255\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + 3 * width * height)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        out(p) = (((x * 255) / math.max(1, width - 1)) & 0xff).toByte
        out(p + 1) = (((y * 255) / math.max(1, height - 1)) & 0xff).toByte
        out(p + 2) = (((x + y + seed) % 256) & 0xff).toByte
        p += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Deterministic block-pattern P6 asset: an 8×8 grid of dark/bright
    * grayscale blocks keyed by a 64-bit scramble of (seed, block).
    * Visually distinctive per seed AND resolution-independent: any
    * geometry with 8-divisible sides renders the same 64 blocks, so a
    * nearest-neighbor resize preserves the perceptual hash bit-exactly
    * — the controlled fixture for cross-resolution image dedup. */
  def generateBlockPpm(width: Int, height: Int, seed: Long): Array[Byte] = {
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + 3 * width * height)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    var y = 0
    while (y < height) {
      val by = y * 8 / height
      var x = 0
      while (x < width) {
        val bx = x * 8 / width
        // splitmix64-style scramble: uncorrelated block bits per seed
        var z = seed * 0x9E3779B97F4A7C15L + (by * 8 + bx) * 0xC2B2AE3D27D4EB4FL
        z ^= z >>> 29; z *= 0xBF58476D1CE4E5B9L; z ^= z >>> 32
        val v: Byte = if ((z & 1L) == 1L) 216.toByte else 40.toByte
        out(p) = v; out(p + 1) = v; out(p + 2) = v
        p += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Demo media table of real P6 assets keyed off `documents` ids —
    * geometry varies per id, payloads generated on-executor (no driver
    * materialization, no shuffle). */
  def ppmFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val w = 8 + (id % 8).toInt
        val h = 8 + (id % 5).toInt
        MediaRow(id, "image/x-portable-pixmap", w, h, generatePpm(w, h, id))
      }
  }

  /** Batched per-partition featurize — the `mapPartitions` boundary a
    * native decoder would live behind. No shuffle: feature extraction is
    * map-only; the iterator keeps memory at one batch, not one
    * partition. */
  def featurize(media: Dataset[MediaRow], decoder: Decoder = FakeDecoder,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // a real decoder would amortize codec init over the batch here
        batch.iterator.map(decoder.decode)
      }
    }
  }

  /** Per-asset perceptual hash: the codegen'd aHash expression
    * ([[graft.functions.ImageAverageHash]]) over the raw payload —
    * map-only, runs in the scan stage, no decode boundary. */
  def perceptualHashes(media: Dataset[MediaRow]): DataFrame =
    media.toDF().select(col("media_id"),
      graft.functions.ImageAverageHash.imageAvgHash(col("payload"))
        .as("phash"))

  /** Cross-modal dedup closure: visually-near-duplicate image pairs
    * (resized or byte-level re-encoded copies of the same content) via
    * perceptual hash → 16-bit-chunk pigeonhole bucketing, the classic
    * 64-bit SimHash candidate scheme: any pair
    * within Hamming `maxHamming` ≤ 3 shares one of 4 chunks, so the
    * only shuffle is the chunk equi-join on (int, long) rows — never
    * pairwise pixels, never payload bytes. */
  def imageNearDups(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame = {
    val fp = perceptualHashes(media)
    val chunked = fp.select(col("media_id"), col("phash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk_id"),
          shiftright(col("phash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("chunk"))
      }: _*)).as("c"))
      .select(col("media_id"), col("phash"), col("c.chunk_id"), col("c.chunk"))
    val a = chunked.select(col("chunk_id"), col("chunk"),
      col("media_id").as("id_a"), col("phash").as("fp_a"))
    val b = chunked.select(col("chunk_id"), col("chunk"),
      col("media_id").as("id_b"), col("phash").as("fp_b"))
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Real media ingestion path: Spark's `binaryFile` source reads files
    * as (path, modificationTime, length, content) rows — the way image/
    * audio/video assets actually enter a 100 TB pipeline. Partitioning
    * is by file; set `spark.sql.files.maxPartitionBytes` for payload
    * size, and push `pathGlobFilter` so only matching assets are listed. */
  def readBinaryFiles(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)

  /** Demo media table synthesized from the `documents` table: text bytes
    * as the opaque payload (deterministic; exercises schema + typed
    * metadata + featurize at any SF). */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        lit("application/octet-stream").as("mime"),
        lit(64).as("width"),
        lit(64).as("height"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Feature table as a DataFrame with stable column order + sort (for
    * the driver's rows-only verification). */
  def featureTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    featurize(mediaFromDocuments(spark, dir))
      .toDF()
      .select(col("media_id"), col("mime"), col("n_bytes"), col("checksum"),
        round(aggregate(col("features"), lit(0.0d), (a, v) => a + v), 6)
          .as("feature_sum"))
      .orderBy("media_id")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio) column plumbing.
  *
  * Media travel as opaque `binary` columns plus typed metadata — the schema,
  * partition behavior, and batch shape are real and tested; only the codec call
  * itself is stubbed (this container ships no image/audio libraries). The stub is
  * deterministic (derived from payload bytes) so tests are stable; swapping in a
  * real decoder means replacing ONE function body and nothing else.
  *
  * Scale notes: payloads never pass through a shuffle here — decode/feature
  * extraction runs `mapPartitions`-style next to the scan (narrow), and anything
  * aggregated downstream should project metadata/features first and drop the
  * bytes. Batch sizing comes from parquet row groups via
  * `spark.sql.files.maxPartitionBytes`, the same lever a real media pipeline uses.
  */
object Multimodal {

  /** Typed media metadata carried beside the opaque payload. */
  final case class MediaMeta(kind: String, width: Int, height: Int, nBytes: Long)

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class DecodedRow(media_id: Long, kind: String, width: Int,
      height: Int, n_bytes: Long, feature: Array[Float])

  /** STUB — deterministic fake decode standing in for a real codec
    * (e.g. JPEG decode / audio resample). Dimensions and the "feature vector"
    * are pure functions of the payload bytes. Replace this body (and only
    * this body) with the real library call in a full deployment. */
  def decodeStub(payload: Array[Byte]): MediaMeta = {
    val n = payload.length
    MediaMeta(kind = "fake", width = 64 + (n % 577), height = 64 + (n % 433), nBytes = n.toLong)
  }

  /** Pluggable codec: the one seam between the Spark plumbing (schema,
    * batching, partition shape — all real) and the media library. Must be
    * Serializable (it ships inside task closures) and row-wise
    * deterministic, or downstream hashes stop being reproducible. */
  trait Codec extends Serializable {
    def meta(payload: Array[Byte]): MediaMeta
    def feature(payload: Array[Byte], dims: Int = 8): Array[Float]
    /** 8×8 spatial luminance grid (row-major, 64 cells) — the downscale
      * behind the perceptual average-hash. Real codecs average pixel blocks;
      * the stub derives cells from payload byte positions. */
    def grid8(payload: Array[Byte]): Array[Float]
    /** Resample the payload to `targetW`×`targetH`, returning a re-encoded
      * payload of the same media kind. */
    def resize(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte]
  }

  /** The deterministic fake (default; what the q27 oracle replays). */
  object StubCodec extends Codec {
    def meta(payload: Array[Byte]): MediaMeta = decodeStub(payload)
    def feature(payload: Array[Byte], dims: Int): Array[Float] =
      featureStub(payload, dims)
    // position-based cell averaging: byte i lands in cell i mod 64, so a
    // small payload edit perturbs few cells — the locality a real
    // perceptual hash has, reproduced deterministically on fake bytes
    def grid8(payload: Array[Byte]): Array[Float] = {
      val sums = new Array[Float](64); val counts = new Array[Float](64)
      var i = 0
      while (i < payload.length) {
        sums(i % 64) += (payload(i) & 0xff); counts(i % 64) += 1f; i += 1
      }
      Array.tabulate(64)(c => if (counts(c) == 0) 0f else sums(c) / counts(c))
    }
    def resize(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] =
      resizeStub(payload, targetW, targetH)
  }

  /** REAL image decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP — no extra
    * dependency): actual pixel dimensions, and the feature is an
    * L1-normalized `dims`-bucket luminance histogram over the decoded
    * pixels — the stub's shape computed from real image content. Proves the
    * plumbing end-to-end on genuine bytes; a malformed payload throws
    * (fail the row loudly rather than emit fake metadata for real media). */
  object ImageIoCodec extends Codec {
    private def read(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null)
        throw new IllegalArgumentException(
          s"payload (${payload.length} bytes) is not a decodable image")
      img
    }
    def meta(payload: Array[Byte]): MediaMeta = {
      val img = read(payload)
      MediaMeta("image", img.getWidth, img.getHeight, payload.length.toLong)
    }
    def feature(payload: Array[Byte], dims: Int): Array[Float] = {
      val img = read(payload)
      val counts = new Array[Float](dims)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000 // integer Rec.601 luma, 0..255
          counts(lum * dims / 256) += 1f
          x += 1
        }
        y += 1
      }
      val total = math.max(counts.sum, 1f)
      counts.map(_ / total)
    }
    // block-average luma over the 8×8 partition of the real image — the
    // classic aHash downscale (each cell = mean luminance of its block;
    // images smaller than 8×8 map pixels onto cells directly)
    def grid8(payload: Array[Byte]): Array[Float] = {
      val img = read(payload)
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Float](64); val counts = new Array[Float](64)
      var y = 0
      while (y < h) {
        val cy = math.min(y * 8 / h, 7)
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          val c = cy * 8 + math.min(x * 8 / w, 7)
          sums(c) += lum; counts(c) += 1f
          x += 1
        }
        y += 1
      }
      Array.tabulate(64)(c => if (counts(c) == 0) 0f else sums(c) / counts(c))
    }

    /** REAL resample: decode → `Graphics2D` bilinear scale → PNG re-encode.
      * PNG (lossless) keeps the round-trip deterministic — the same payload
      * and target always produce identical bytes, which downstream
      * content-hash dedup depends on. */
    def resize(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      require(targetW >= 1 && targetH >= 1, "target dims >= 1")
      val img = read(payload)
      val scaled = new java.awt.image.BufferedImage(
        targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = scaled.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, targetW, targetH, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(scaled, "png", bos)
      bos.toByteArray
    }
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV / PCM — no
    * extra dependency), the audio sibling of [[ImageIoCodec]]. Conventions
    * for the shared [[MediaMeta]] shape: `kind = "audio"`, `width` carries
    * the sample rate (Hz), `height` the channel count. Features are the
    * `dims`-window RMS energy envelope (L1-normalized) over the decoded
    * samples — the crudest real audio fingerprint; [[Codec.grid8]] is the
    * 64-window envelope, so the SAME banded-aHash dedup pipeline that
    * catches re-encoded images ([[perceptualDedup]]) catches re-encoded
    * audio. `resize(w, h)` linearly resamples to w·h samples and re-encodes
    * 16-bit mono WAV (deterministic bytes). Supports 8/16-bit signed PCM,
    * any channel count (averaged to mono); anything else throws — fail the
    * row loudly rather than emit fake metadata for real media. */
  object WavCodec extends Codec {
    private def decode(payload: Array[Byte]): (Array[Double], Float, Int) = {
      val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"payload (${payload.length} bytes) is not a decodable audio stream", e)
      }
      val fmt = in.getFormat
      val enc = fmt.getEncoding
      require(enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        (fmt.getSampleSizeInBits == 16 || fmt.getSampleSizeInBits == 8),
        s"WavCodec handles 8/16-bit signed PCM; got $enc ${fmt.getSampleSizeInBits}-bit")
      val bytes = in.readAllBytes()
      val ch = fmt.getChannels
      val bytesPerSample = fmt.getSampleSizeInBits / 8
      val n = bytes.length / (bytesPerSample * ch)
      val mono = new Array[Double](n)
      var i = 0
      while (i < n) {
        var acc = 0.0
        var c = 0
        while (c < ch) {
          val off = (i * ch + c) * bytesPerSample
          val s =
            if (bytesPerSample == 1) bytes(off).toDouble / 128.0
            else {
              val (b0, b1) =
                if (fmt.isBigEndian) (bytes(off + 1), bytes(off))
                else (bytes(off), bytes(off + 1))
              (((b1 << 8) | (b0 & 0xff)).toShort).toDouble / 32768.0
            }
          acc += s; c += 1
        }
        mono(i) = acc / ch; i += 1
      }
      (mono, fmt.getSampleRate, ch)
    }

    /** RMS energy per window, `cells` windows, L1-normalized. */
    private def envelope(s: Array[Double], cells: Int): Array[Float] = {
      val out = new Array[Float](cells)
      if (s.isEmpty) return out
      var c = 0
      while (c < cells) {
        val lo = (c.toLong * s.length / cells).toInt
        val hi = math.max(((c + 1).toLong * s.length / cells).toInt, lo + 1)
        var acc = 0.0; var i = lo
        while (i < hi && i < s.length) { acc += s(i) * s(i); i += 1 }
        out(c) = math.sqrt(acc / math.max(hi - lo, 1)).toFloat
        c += 1
      }
      val total = math.max(out.sum, 1e-12f)
      out.map(_ / total)
    }

    def meta(payload: Array[Byte]): MediaMeta = {
      val (_, rate, ch) = decode(payload)
      MediaMeta("audio", rate.toInt, ch, payload.length.toLong)
    }
    def feature(payload: Array[Byte], dims: Int): Array[Float] =
      envelope(decode(payload)._1, dims)
    def grid8(payload: Array[Byte]): Array[Float] =
      envelope(decode(payload)._1, 64)
    def resize(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      require(targetW >= 1 && targetH >= 1, "target dims >= 1")
      val (s, rate, _) = decode(payload)
      val n = targetW * targetH
      val out = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        // linear interpolation at fractional source position
        val pos = if (n == 1) 0.0 else i.toDouble * (s.length - 1) / (n - 1)
        val lo = math.min(pos.toInt, math.max(s.length - 1, 0))
        val frac = pos - lo
        val v =
          if (s.isEmpty) 0.0
          else if (lo + 1 < s.length) s(lo) * (1 - frac) + s(lo + 1) * frac
          else s(lo)
        val q = math.max(-32768, math.min(32767, math.round(v * 32767).toInt))
        out(2 * i) = (q & 0xff).toByte
        out(2 * i + 1) = ((q >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(out), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** Deterministic fake feature extraction: a tiny byte histogram (8 buckets),
    * L1-normalized — the shape a real embedding/feature UDF would produce. */
  def featureStub(payload: Array[Byte], dims: Int = 8): Array[Float] = {
    val counts = new Array[Float](dims)
    payload.foreach(b => counts((b & 0xff) % dims) += 1f)
    val total = math.max(counts.sum, 1f)
    counts.map(_ / total)
  }

  /** Batch decode: the Scala analogue of `mapInPandas` — per-partition iterator
    * transform, zero driver involvement, preserves partitioning. Pass
    * [[ImageIoCodec]] for real PNG/JPEG payloads; the default stub keeps
    * the oracle fixtures (text-as-bytes) decodable. */
  def decode(media: Dataset[MediaRow], codec: Codec = StubCodec): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val m = codec.meta(r.payload)
        DecodedRow(r.media_id, r.kind, m.width, m.height, m.nBytes,
          codec.feature(r.payload))
      }
    }
  }

  /** STUB resize — stands in for a real image resample. Deterministic:
    * nearest-neighbor byte subsampling of the payload to `targetW*targetH`
    * bytes; metadata updated to the target dims. Replace the byte math with a
    * real scaler without touching the Spark plumbing. */
  def resizeStub(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    val n = targetW * targetH
    if (payload.isEmpty) new Array[Byte](0)
    else Array.tabulate(n)(i => payload((i.toLong * payload.length / n).toInt))
  }

  /** Batch resize: same per-partition narrow shape as [[decode]]. Pass
    * [[ImageIoCodec]] for a real bilinear resample of PNG/JPEG payloads;
    * the default stub keeps the oracle fixtures (text-as-bytes) resizable. */
  def resize(media: Dataset[MediaRow], targetW: Int, targetH: Int,
      codec: Codec = StubCodec): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      r.copy(payload = codec.resize(r.payload, targetW, targetH))))
  }

  /** 64-bit perceptual average-hash from an 8×8 grid: bit i set iff cell i
    * exceeds the grid mean. Hamming distance between hashes ≈ how many
    * regions of the two images differ in relative brightness — robust to
    * re-encoding/scaling, exactly what exact byte-hash dedup misses. */
  def averageHash64(grid: Array[Float]): Long = {
    require(grid.length == 64, s"need 64 cells, got ${grid.length}")
    var mean = 0f
    var i = 0
    while (i < 64) { mean += grid(i); i += 1 }
    mean /= 64
    var sig = 0L
    i = 0
    while (i < 64) { if (grid(i) > mean) sig |= (1L << i); i += 1 }
    sig
  }

  /** Perceptual image near-dup pairs: per-row aHash (narrow, payloads never
    * shuffle) + the same pigeonhole-exact band join text simhash uses
    * ([[Dedup.bandedHammingPairs]] — only (id, long) signatures move).
    * The image twin of text near-dup removal: re-encoded, resized, or
    * lightly edited copies land within `maxHamming` bits. */
  def perceptualDedup(media: Dataset[MediaRow], codec: Codec = StubCodec,
      maxHamming: Int = 4, bands: Int = 8): DataFrame = {
    import media.sparkSession.implicits._
    val sigs = media.mapPartitions(_.map(r =>
        (r.media_id, averageHash64(codec.grid8(r.payload)))))
      .toDF("media_id", "sig")
    Dedup.bandedHammingPairs(sigs, "media_id", "sig", maxHamming, bands,
      bits = 64)
  }

  /** Build a media table from the `documents` fixture (text bytes as payload) —
    * exercises the binary-column path end-to-end on shipped testdata. */
  def fromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").as("media_id"), lit("image").as("kind"),
      col("text").cast("binary").as("payload")).as[MediaRow]
  }
}

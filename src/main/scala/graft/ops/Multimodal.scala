package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in partition-sized batches
  * (`mapPartitions`, the Scala analogue of `mapInPandas` batches — no
  * per-row task overhead, no shuffle).
  *
  * Three tiers, cheapest first — the order a 100 TB pipeline applies them:
  *  1. [[extractFeatures]] — codec-free payload byte stats (size, chunk
  *     count, byte mean, rolling checksum) on EVERY blob;
  *  2. [[imageMetadata]] — container-header sniffing (format + pixel
  *     dimensions) without decoding a single pixel, the filter that culls
  *     by size/aspect before any decoder runs;
  *  3. [[decodeImageStats]] — REAL pixel decode via the JDK's
  *     `javax.imageio` ([[ImageCodec]]; PNG/JPEG/GIF/BMP ship in every
  *     JRE, zero external dependencies) for the rows that survive.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      media: Array[Byte],
      format: String,
      n_bytes: Long
  )

  /** Extracted features, one row per media item. */
  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      n_frames: Long,
      mean_byte: Double,
      checksum: Long
  )

  /** Codec-FREE payload chunker: iterates the raw bytes in fixed 256-byte
    * chunks. Not a decoder and not a stand-in for one — it feeds the
    * byte-level stats ([[extractFeatures]]) that run on every blob
    * regardless of format, before any real decode ([[ImageCodec]]) is
    * paid for. */
  object ByteFrames {
    val FrameSize = 256
    def decode(media: Array[Byte]): Iterator[Array[Byte]] =
      media.grouped(FrameSize)
  }

  /** Attach a fake binary media column derived from a text column —
    * stands in for reading real blobs; keeps the pipeline runnable. */
  def withFakeMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("media"),
      lit("fake/utf8").as("format"),
      octet_length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes"))

  /** Batch payload-level feature extraction over the binary column:
    * per-partition iteration (no per-row task overhead), format-agnostic —
    * chunked byte stats are the cheap universal signal (corruption triage,
    * dedup pre-keys) computed before any decoder runs. Fully parallel, no
    * shuffle. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        var sum = 0L
        var checksum = 0L
        var frames = 0L
        ByteFrames.decode(r.media).foreach { frame =>
          frames += 1
          var i = 0
          while (i < frame.length) {
            val b = frame(i) & 0xff
            sum += b
            checksum = (checksum * 131 + b) % 1000000007L
            i += 1
          }
        }
        MediaFeatures(
          media_id = r.media_id,
          n_bytes = r.n_bytes,
          n_frames = frames,
          mean_byte = if (r.n_bytes > 0) sum.toDouble / r.n_bytes else 0.0,
          checksum = checksum)
      }
    }
  }

  /** End-to-end: text table → fake media column → batched feature
    * extraction. The gate query checks the deterministic features. */
  def pipeline(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    extractFeatures(withFakeMedia(docs, idCol, textCol).as[MediaRecord])
  }

  // ------------------------------------------------------- image headers

  /** Container-level image metadata: format + pixel dimensions.
    * `unknown`/-1 when the payload is not a recognized image. */
  final case class MediaMeta(
      media_id: Long, format: String, width: Int, height: Int)

  /** REAL (non-stub) metadata extraction: image container headers are
    * plain bytes — PNG IHDR, GIF logical-screen descriptor, BMP
    * info-header, JPEG SOF markers — so format sniffing and pixel
    * dimensions need no codec at all. This is the part of multimodal
    * handling a 100 TB pipeline runs on EVERY blob (filtering by
    * size/aspect before any expensive decode). */
  def sniffImage(b: Array[Byte]): (String, Int, Int) = {
    def u8(i: Int) = b(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (b.length >= 24 && u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      ("png", be32(16), be32(20))
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
      ("gif", le16(6), le16(8))
    else if (b.length >= 26 && b(0) == 'B' && b(1) == 'M') {
      // DIB header size decides the field layout: BITMAPINFOHEADER and
      // later (>= 40) carry 32-bit dims at 18/22; the OS/2
      // BITMAPCOREHEADER (12) carries 16-bit dims at 18/20
      val dib = le32(14)
      if (dib >= 40) ("bmp", le32(18), math.abs(le32(22))) // height<0 = top-down
      else if (dib == 12) ("bmp", le16(18), le16(20))
      else ("bmp", -1, -1)
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk the marker stream to the first SOFn frame header.
      // Markers may be preceded by any number of 0xFF fill bytes
      // (spec B.1.1.2); TEM (0x01), RSTn and SOI are parameterless; EOI
      // before a frame header means no dimensions.
      var i = 2
      while (i + 1 < b.length) {
        if (u8(i) != 0xff) return ("jpeg", -1, -1) // corrupt marker stream
        var j = i + 1
        while (j < b.length && u8(j) == 0xff) j += 1 // skip fill bytes
        if (j >= b.length) return ("jpeg", -1, -1)
        val marker = u8(j)
        if (marker == 0xd9) return ("jpeg", -1, -1) // EOI, no SOF seen
        else if (marker == 0x01 || marker == 0xd8 ||
          (marker >= 0xd0 && marker <= 0xd7)) i = j + 1
        else if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (j + 7 >= b.length) return ("jpeg", -1, -1)
          return ("jpeg", be16(j + 6), be16(j + 4)) // SOFn: height then width
        } else {
          if (j + 2 >= b.length) return ("jpeg", -1, -1)
          i = j + 1 + be16(j + 1) // segment length includes its own 2 bytes
        }
      }
      ("jpeg", -1, -1)
    } else ("unknown", -1, -1)
  }

  /** Per-blob image metadata, batched like [[extractFeatures]] — parallel,
    * no shuffle, no decode. */
  def imageMetadata(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (fmt, w, h) = sniffImage(r.media)
      MediaMeta(r.media_id, fmt, w, h)
    })
  }

  /** Minimal PNG signature + IHDR prefix with the given dimensions — what
    * [[sniffImage]] reads; used to synthesize blobs in tests and the gate
    * query's parse round-trip. */
  def pngHeader(w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(24)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
    bb.array()
  }

  /** Ids-only spread ahead of per-row codec work (r14, guide §8: move
    * keys, not payloads). The generated-media sources read their ids
    * from ONE parquet row group, so every downstream encode+decode ran
    * in a single task; a deterministic hash repartition of the BARE
    * 8-byte ids (payloads are synthesized after the exchange, so the
    * shuffle moves ~nothing) spreads the codec CPU across the cluster.
    * Partition count follows `defaultParallelism` — session-derived,
    * not a constant — and is pinned explicitly because AQE would
    * otherwise coalesce a sub-MB ids shuffle back to one partition,
    * which is exactly the single-task layout being fixed. Applied only
    * to the REAL-payload generators; the header-only synthesizers are
    * too cheap to be worth a plan change. */
  private def idsSpread(docs: DataFrame, idCol: String): DataFrame = {
    val n = math.max(1, docs.sparkSession.sparkContext.defaultParallelism)
    docs.select(col(idCol).cast("long").as("__mid__"))
      .repartition(n, col("__mid__"))
  }

  /** Synthetic PNG blob per row, dimensions a deterministic function of
    * the id — the construct half of the construct↔parse oracle check. */
  def withSyntheticPng(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long")).as[Long].map { id =>
      val w = (id % 1000 + 1).toInt
      val h = ((id * 7) % 1000 + 1).toInt
      MediaRecord(id, pngHeader(w, h), "png", 24L)
    }
  }

  // --------------------------------------------------------- audio headers

  /** Container-level audio metadata: `sample_rate = -1` when the payload
    * is not a recognized audio container. `duration_ms` uses integer
    * division (replayable arithmetic, no float drift). */
  final case class AudioMeta(
      media_id: Long, format: String, sample_rate: Int, channels: Int,
      bits_per_sample: Int, n_samples: Long, duration_ms: Long)

  /** What the RIFF/WAVE chunk walk reads: the first `fmt ` chunk's format
    * tag, rate, channels and sample width, and the offset and declared
    * size of the first `data` chunk. */
  private final case class WavChunks(tag: Int, rate: Int, channels: Int,
      bits: Int, dataAt: Int, dataBytes: Long)

  /** The chunk walk under [[sniffWav]] and [[AudioCodec]]; None when `b` is
    * not RIFF/WAVE or lacks either chunk. Walks the chunk list (fmt is not
    * always first; LIST/fact chunks are common), so real-world files
    * parse too. */
  private def walkWav(b: Array[Byte]): Option[WavChunks] = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3).toLong << 24)) & 0xffffffffL
    if (b.length < 36 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    var i = 12
    var fmtAt = -1; var dataAt = -1
    var dataBytes = -1L
    while (i + 8 <= b.length && (fmtAt < 0 || dataAt < 0)) {
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(i + 4)
      if (id == "fmt " && fmtAt < 0 && i + 24 <= b.length) fmtAt = i + 8
      else if (id == "data" && dataAt < 0) { dataAt = i + 8; dataBytes = size }
      // chunks are word-aligned: odd sizes carry a pad byte; a corrupt
      // huge size must terminate the walk, not wrap the index
      val next = i.toLong + 8 + size + (size & 1)
      if (next <= i || next > Int.MaxValue) i = b.length
      else i = next.toInt
    }
    if (fmtAt < 0 || dataAt < 0) None
    else Some(WavChunks(le16(fmtAt), le32(fmtAt + 4).toInt, le16(fmtAt + 2),
      le16(fmtAt + 14), dataAt, dataBytes))
  }

  /** REAL (codec-free) WAV header parse: RIFF/WAVE `fmt ` + `data` chunks
    * are plain little-endian bytes — rate/channels/width/sample-count need
    * no decoder, exactly like [[sniffImage]] for images. */
  def sniffWav(b: Array[Byte]): Option[(Int, Int, Int, Long)] =
    walkWav(b).flatMap { w =>
      // sub-byte widths (4-bit IMA ADPCM is a real-world format) would
      // make the block divisor 0 — that's a "can't count samples"
      // sentinel, not an ArithmeticException killing the task
      if (w.rate <= 0 || w.channels <= 0 || w.bits < 8 || w.bits % 8 != 0) None
      else Some((w.rate, w.channels, w.bits,
        w.dataBytes / (w.channels * (w.bits / 8))))
    }

  /** Per-blob audio metadata, batched like [[imageMetadata]] — parallel,
    * no shuffle, no codec. */
  def audioMetadata(media: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      sniffWav(r.media) match {
        case Some((rate, ch, bits, n)) =>
          AudioMeta(r.media_id, "wav", rate, ch, bits, n, n * 1000L / rate)
        case None => AudioMeta(r.media_id, "unknown", -1, -1, -1, -1L, -1L)
      }
    })
  }

  /** Minimal canonical WAV (PCM fmt + empty-payload data header sized for
    * `nSamples`) — what [[sniffWav]] reads; the construct half of the
    * audio construct↔parse oracle. */
  def wavHeader(rate: Int, channels: Int, bits: Int, nSamples: Long): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * (bits / 8)
    val dataBytes = (nSamples * blockAlign).toInt
    bb.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(rate)
      .putInt(rate * blockAlign).putShort(blockAlign.toShort)
      .putShort(bits.toShort)
    bb.put("data".getBytes).putInt(dataBytes)
    bb.array()
  }

  /** Synthetic WAV header per row, parameters deterministic functions of
    * the id — mirrors [[withSyntheticPng]] for the audio tier. */
  def withSyntheticWav(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long")).as[Long].map { id =>
      val rate = 8000 * (1 + (id % 5)).toInt
      val channels = 1 + (id % 2).toInt
      val bits = if (id % 3 == 0) 8 else 16
      val nSamples = (id * 31) % 10000
      MediaRecord(id, wavHeader(rate, channels, bits, nSamples), "wav", 44L)
    }
  }

  // ------------------------------------------------------- real PCM decode

  /** REAL audio decode, codec-free — the audio twin of [[ImageCodec]]:
    * linear PCM is plain bytes, so the samples are read straight off the
    * `data` chunk that [[sniffWav]]'s chunk walk finds. */
  object AudioCodec {
    /** Decode to (sampleRate, channels, per-channel sample values). Only
      * linear PCM (format tag 1) at 8 bits (unsigned) or 16 bits (signed
      * little-endian) is in scope; 24/32-bit, float, u-law/a-law and
      * non-WAV payloads (AIFF, AU) are the documented "did not decode"
      * sentinel None, never silently-wrong stats. A `data` chunk shorter
      * than its declared size yields the whole frames present. */
    def decodePcm(media: Array[Byte]): Option[(Int, Int, Array[Array[Int]])] =
      walkWav(media).filter(w => w.tag == 1 && (w.bits == 8 || w.bits == 16) &&
        w.rate > 0 && w.channels > 0).map { w =>
        val bytesPer = w.bits / 8
        val present = math.min(w.dataBytes, (media.length - w.dataAt).toLong)
        val n = (present / (w.channels * bytesPer)).toInt
        val out = Array.ofDim[Int](w.channels, n)
        var j = 0
        while (j < n) {
          var c = 0
          while (c < w.channels) {
            val off = w.dataAt + (j * w.channels + c) * bytesPer
            out(c)(j) =
              if (bytesPer == 1) media(off) & 0xff // 8-bit PCM is unsigned
              else (media(off + 1).toInt << 8) | (media(off) & 0xff)
            c += 1
          }
          j += 1
        }
        (w.rate, w.channels, out)
      }
  }

  /** Per-channel PCM statistics (up to 2 channels; mono reports zeros for
    * channel 1). `sample_rate = -1` when the payload did not decode. */
  final case class AudioStats(
      media_id: Long, sample_rate: Int, channels: Int, n_samples: Long,
      mean_c0: Double, min_c0: Long, max_c0: Long,
      mean_c1: Double, min_c1: Long, max_c1: Long)

  /** REAL PCM decode + per-channel stats, batched like the other tiers:
    * parallel `mapPartitions`, no shuffle. */
  def decodeAudioStats(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      AudioCodec.decodePcm(r.media) match {
        case None =>
          AudioStats(r.media_id, -1, -1, -1L, 0, 0, 0, 0, 0, 0)
        case Some((rate, channels, chans)) =>
          def stats(c: Int): (Double, Long, Long) =
            if (c >= channels || chans(c).isEmpty) (0.0, 0L, 0L)
            else {
              var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
              chans(c).foreach { v =>
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
              }
              (sum.toDouble / chans(c).length, mn, mx)
            }
          val (m0, lo0, hi0) = stats(0)
          val (m1, lo1, hi1) = stats(1)
          AudioStats(r.media_id, rate, channels,
            if (channels > 0) chans(0).length.toLong else 0L,
            m0, lo0, hi0, m1, lo1, hi1)
      }
    })
  }

  /** Full PCM WAV bytes: header + interleaved 16-bit little-endian signed
    * samples — the construct half of the audio construct↔decode oracle. */
  def wavPcm16(rate: Int, samples: Array[Array[Short]]): Array[Byte] = {
    val channels = samples.length
    val n = if (channels == 0) 0 else samples(0).length
    val header = wavHeader(rate, channels, 16, n.toLong)
    val bb = java.nio.ByteBuffer.allocate(header.length + n * channels * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(header)
    var j = 0
    while (j < n) {
      var c = 0
      while (c < channels) { bb.putShort(samples(c)(j)); c += 1 }
      j += 1
    }
    bb.array()
  }

  /** Synthetic PCM sample: linear in id/index/channel over a signed 16-bit
    * subrange, replayable arithmetically by the oracle. */
  final case class AudioFingerprint(
      media_id: Long, sample_rate: Int, n_frames: Int,
      fp: Long, total_energy: Long)

  /** Energy-delta audio fingerprint over REAL PCM decodes — the
    * Shazam-style robust hash reduced to its deterministic core: split
    * channel 0 into complete `frameLen`-sample frames, frame energy
    * `Σ s²` (exact integers), fingerprint bit f set iff
    * `energy_f > energy_{f+1}` (energy CONTOUR, not absolute level — the
    * property that survives gain changes). Byte-identical re-encodes
    * collide; contour-equal recordings band together for a near-dup
    * join. Decode failure yields the rate = -1 sentinel. Same
    * `mapPartitions` posture as [[decodeAudioStats]]. */
  def audioFingerprint(media: Dataset[MediaRecord],
      frameLen: Int = 8): Dataset[AudioFingerprint] = {
    import media.sparkSession.implicits._
    require(frameLen >= 1, "frameLen must be >= 1")
    media.mapPartitions(_.map { r =>
      AudioCodec.decodePcm(r.media) match {
        case None => AudioFingerprint(r.media_id, -1, -1, 0L, 0L)
        case Some((rate, channels, chans)) =>
          val s = if (channels > 0) chans(0) else Array.empty[Int]
          val nf = s.length / frameLen
          val e = new Array[Long](nf)
          var f = 0
          while (f < nf) {
            var acc = 0L
            var i = 0
            while (i < frameLen) {
              val v = s(f * frameLen + i).toLong
              acc += v * v
              i += 1
            }
            e(f) = acc
            f += 1
          }
          var fp = 0L
          f = 0
          while (f < nf - 1) {
            if (e(f) > e(f + 1)) fp |= 1L << f
            f += 1
          }
          AudioFingerprint(r.media_id, rate, nf, fp, e.sum)
      }
    })
  }

  /** Channel-0 PCM hygiene counters; `sample_rate` = -1 when the payload
    * did not decode. All integers — exactly replayable. */
  final case class AudioQuality(
      media_id: Long, sample_rate: Int, n_samples: Long,
      n_clipped: Long, n_silent: Long, peak_abs: Long,
      sum_sq: Long, dc_sum: Long)

  /** Audio hygiene gate over REAL PCM decodes — the signals a speech/
    * audio training pipeline filters on BEFORE feature extraction:
    * clipping (|s| ≥ `clipLevel` — distorted takes), silence fraction
    * (|s| ≤ `silenceLevel` — dead air / truncated uploads), peak
    * amplitude, exact energy `Σ s²`, and the DC offset `Σ s` (a non-zero
    * mean betrays a miswired ADC). Channel 0 only, like
    * [[audioFingerprint]]; everything is exact 64-bit integer arithmetic
    * (a 16-bit sample squares to < 2³⁰, so > 2³³ samples per file would
    * be needed to overflow). Decode failure yields the rate = -1
    * sentinel. Batched `mapPartitions`, no shuffle, per-row codec CPU —
    * linear across executors at any scale. */
  def audioQuality(media: Dataset[MediaRecord], clipLevel: Int = 32760,
      silenceLevel: Int = 100): Dataset[AudioQuality] = {
    import media.sparkSession.implicits._
    require(clipLevel > silenceLevel,
      s"clipLevel $clipLevel must exceed silenceLevel $silenceLevel")
    media.mapPartitions(_.map { r =>
      AudioCodec.decodePcm(r.media) match {
        case None => AudioQuality(r.media_id, -1, -1L, 0L, 0L, 0L, 0L, 0L)
        case Some((rate, channels, chans)) =>
          val s = if (channels > 0) chans(0) else Array.empty[Int]
          var clipped = 0L; var silent = 0L; var peak = 0L
          var sumSq = 0L; var dc = 0L
          var i = 0
          while (i < s.length) {
            val v = s(i).toLong
            val a = math.abs(v)
            if (a >= clipLevel) clipped += 1
            if (a <= silenceLevel) silent += 1
            if (a > peak) peak = a
            sumSq += v * v
            dc += v
            i += 1
          }
          AudioQuality(r.media_id, rate, s.length.toLong,
            clipped, silent, peak, sumSq, dc)
      }
    })
  }

  @inline def synthSample(id: Long, i: Int, c: Int): Int =
    (((id * 31 + i.toLong * 7 + c.toLong * 13) % 4001) - 2000).toInt

  /** Fully-encoded synthetic WAV per row (REAL PCM payload): rate fixed,
    * channel count and every sample deterministic functions of the id. */
  def withSyntheticWavPcm(docs: DataFrame, idCol: String,
      nSamples: Int = 64): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    idsSpread(docs, idCol).as[Long].mapPartitions(_.map { id =>
      val channels = 1 + (id % 2).toInt
      val samples = Array.tabulate(channels, nSamples)(
        (c, i) => synthSample(id, i, c).toShort)
      val bytes = wavPcm16(8000, samples)
      MediaRecord(id, bytes, "wav", bytes.length.toLong)
    })
  }

  // ------------------------------------------------- video frame sampling

  /** Video container metadata + sampled-frame digests: `width = -1` when
    * the payload is not a recognized AVI. */
  final case class VideoFrames(
      media_id: Long, width: Int, height: Int, n_frames: Long,
      n_sampled: Long, sampled_bytes: Long, frames_checksum: Long)

  /** REAL (codec-free) AVI container walk: RIFF `LIST hdrl → avih` carries
    * frame count and dimensions; `LIST movi` holds the frame chunks
    * (`##dc`/`##db`). Frame-SAMPLING — every k-th frame's bytes, offsets
    * and digests — needs no codec at all, which is exactly the point: a
    * 100 TB video pipeline samples and ships frame payloads to a decode
    * service; the Spark side owns structure, not pixels. Returns (width,
    * height, declared frame count, frame chunk list as (offset, size)). */
  def walkAvi(b: Array[Byte]): Option[(Int, Int, Long, Seq[(Int, Int)])] = {
    def u8(i: Int) = b(i) & 0xff
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3).toLong << 24)) & 0xffffffffL
    def fourcc(i: Int) = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length < 24 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    var width = -1; var height = -1; var nFrames = -1L
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // real AVI nesting is ~3 LIST levels (hdrl→strl, movi→rec); a crafted
    // file with thousands of nested 12-byte LISTs must hit this bound and
    // stop, not StackOverflowError the executor task
    val maxDepth = 16
    def walk(from: Int, to: Int, depth: Int): Unit = {
      if (depth > maxDepth) return
      var i = from
      while (i + 8 <= to) {
        val id = fourcc(i)
        val size = le32(i + 4)
        val next = i.toLong + 8 + size + (size & 1)
        if (next <= i || next > to) return // corrupt size: stop the walk
        if (id == "LIST" && i + 12 <= to) {
          walk(i + 12, next.toInt, depth + 1) // descend into hdrl/movi/strl
        } else if (id == "avih" && i + 8 + 40 <= to) {
          nFrames = le32(i + 8 + 16) // dwTotalFrames
          width = le32(i + 8 + 32).toInt // dwWidth
          height = le32(i + 8 + 36).toInt // dwHeight
        } else if ((id.endsWith("dc") || id.endsWith("db")) &&
          id.take(2).forall(_.isDigit)) {
          frames += ((i + 8, size.toInt)) // a video frame chunk (##dc/##db)
        }
        i = next.toInt
      }
    }
    walk(12, b.length, 0)
    if (width < 0 || nFrames < 0) None
    else Some((width, height, nFrames, frames.toSeq))
  }

  /** Sample every `stride`-th frame of each AVI payload: emits count,
    * total sampled bytes and an order-sensitive polynomial digest of the
    * sampled frames — the structure a downstream decode service consumes.
    * Batched `mapPartitions`, no shuffle. */
  def sampleVideoFrames(media: Dataset[MediaRecord],
      stride: Int = 2): Dataset[VideoFrames] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      walkAvi(r.media) match {
        case None =>
          VideoFrames(r.media_id, -1, -1, -1L, 0L, 0L, 0L)
        case Some((w, h, n, frames)) =>
          var checksum = 0L
          var bytes = 0L
          var sampled = 0L
          var f = 0
          while (f < frames.length) {
            if (f % stride == 0) {
              sampled += 1
              val (off, size) = frames(f)
              bytes += size
              var j = 0
              while (j < size) {
                checksum = (checksum * 131 + (r.media(off + j) & 0xff)) % 1000000007L
                j += 1
              }
            }
            f += 1
          }
          VideoFrames(r.media_id, w, h, n, sampled, bytes, checksum)
      }
    })
  }

  /** Minimal structurally-valid AVI: `hdrl/avih` with the given dims and
    * frame count, `movi` with `00dc` frame chunks of the provided
    * payloads — what [[walkAvi]] reads; the construct half of the video
    * oracle. */
  def aviBytes(w: Int, h: Int, framePayloads: Seq[Array[Byte]]): Array[Byte] = {
    val avihData = new Array[Byte](56)
    val ab = java.nio.ByteBuffer.wrap(avihData).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ab.putInt(0, 33333) // usec/frame (~30fps)
    ab.putInt(16, framePayloads.length) // dwTotalFrames
    ab.putInt(24, 1) // dwStreams
    ab.putInt(32, w).putInt(36, h)
    val moviSize = 4 + framePayloads.map(p => 8 + p.length + (p.length & 1)).sum
    val hdrlSize = 4 + 8 + avihData.length
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(riffSize).put("AVI ".getBytes)
    bb.put("LIST".getBytes).putInt(hdrlSize).put("hdrl".getBytes)
    bb.put("avih".getBytes).putInt(avihData.length).put(avihData)
    bb.put("LIST".getBytes).putInt(moviSize).put("movi".getBytes)
    framePayloads.foreach { p =>
      bb.put("00dc".getBytes).putInt(p.length).put(p)
      if ((p.length & 1) == 1) bb.put(0.toByte) // word-align
    }
    bb.array()
  }

  /** Synthetic frame byte: linear in id/frame/offset mod 256 — the oracle
    * replays the sampled-frame digest arithmetically. */
  final case class VideoSceneChanges(
      media_id: Long, n_frames: Long, n_transitions: Int,
      n_scene_changes: Int, total_diff: Long)

  /** Scene-change detection over the AVI container walk — the shot
    * segmentation pass a video-training pipeline runs to pick keyframes
    * (sampling one frame per SCENE beats sampling every k-th frame of a
    * static shot). Per consecutive frame pair: exact integer sum of
    * absolute byte differences over the common prefix; a transition is
    * a scene change iff `diff · 1000 > thresholdMil · len` (mean
    * absolute byte delta above thresholdMil milli-units — integer
    * cross-multiplication, no float). Codec-free like [[walkAvi]]: raw
    * frame payload bytes are compared; with a compressed codec this
    * runs on the decode service's luma planes instead, same contract.
    * Unparseable payloads yield the n_frames = -1 sentinel. */
  def videoSceneChanges(media: Dataset[MediaRecord],
      thresholdMil: Long = 54000L): Dataset[VideoSceneChanges] = {
    import media.sparkSession.implicits._
    require(thresholdMil >= 0, "threshold must be non-negative")
    media.mapPartitions(_.map { r =>
      walkAvi(r.media) match {
        case None => VideoSceneChanges(r.media_id, -1L, 0, 0, 0L)
        case Some((_, _, n, frames)) =>
          var scenes = 0
          var total = 0L
          var t = 0
          while (t < frames.length - 1) {
            val (o1, s1) = frames(t)
            val (o2, s2) = frames(t + 1)
            val len = math.min(s1, s2)
            var d = 0L
            var j = 0
            while (j < len) {
              d += math.abs((r.media(o1 + j) & 0xff) -
                (r.media(o2 + j) & 0xff))
              j += 1
            }
            if (len > 0 && d * 1000L > thresholdMil * len) scenes += 1
            total += d
            t += 1
          }
          VideoSceneChanges(r.media_id, n,
            math.max(frames.length - 1, 0), scenes, total)
      }
    })
  }

  /** Frozen-frame detection; `n_frames` = -1 when not a recognized AVI. */
  final case class VideoFreeze(
      media_id: Long, n_frames: Long, n_transitions: Int,
      n_frozen: Int, n_freeze_runs: Int, longest_run: Int)

  /** Stuck-video detection over the AVI frame walk — the companion
    * failure mode to [[videoSceneChanges]] (that one finds CUTS; this
    * finds the encoder/capture stall where consecutive frames stop
    * changing): a transition is FROZEN when its mean per-byte delta is
    * ≤ `thresholdMil`/1000 (`d·1000 ≤ threshold·len`, strict integer
    * cross-multiplication, same contract as the scene threshold), and
    * freezes are reported as maximal RUNS (a 3-second stall is one
    * incident, not 72 transitions). Returns frozen-transition count,
    * run count, and the longest run. Same batched `mapPartitions`
    * container walk — per-row CPU, no shuffle, no decode. */
  def videoFreezeRuns(media: Dataset[MediaRecord],
      thresholdMil: Long = 1000L): Dataset[VideoFreeze] = {
    import media.sparkSession.implicits._
    require(thresholdMil >= 0, "threshold must be non-negative")
    media.mapPartitions(_.map { r =>
      walkAvi(r.media) match {
        case None => VideoFreeze(r.media_id, -1L, 0, 0, 0, 0)
        case Some((_, _, n, frames)) =>
          var frozen = 0
          var runs = 0
          var longest = 0
          var cur = 0
          var t = 0
          while (t < frames.length - 1) {
            val (o1, s1) = frames(t)
            val (o2, s2) = frames(t + 1)
            val len = math.min(s1, s2)
            var d = 0L
            var j = 0
            while (j < len) {
              d += math.abs((r.media(o1 + j) & 0xff) -
                (r.media(o2 + j) & 0xff))
              j += 1
            }
            if (len > 0 && d * 1000L <= thresholdMil * len) {
              frozen += 1
              if (cur == 0) runs += 1
              cur += 1
              if (cur > longest) longest = cur
            } else cur = 0
            t += 1
          }
          VideoFreeze(r.media_id, n,
            math.max(frames.length - 1, 0), frozen, runs, longest)
      }
    })
  }

  /** [[withSyntheticAvi]] with each logical frame REPEATED `repeat`
    * times (a stalled encoder emitting duplicates) — the construct half
    * of the freeze-detection oracle: frame f carries the bytes of
    * logical frame `f / repeat`, so transitions inside a repeat group
    * have delta 0 and group boundaries jump. */
  def withSyntheticAviRepeats(docs: DataFrame, idCol: String,
      frameBytes: Int = 32, repeat: Int = 3): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    require(repeat >= 1, "repeat must be >= 1")
    idsSpread(docs, idCol).as[Long].mapPartitions(_.map { id =>
      val w = (id % 100 + 1).toInt
      val h = (id * 3 % 100 + 1).toInt
      val n = (id % 7 + 1).toInt
      val frames = Seq.tabulate(n)(f =>
        Array.tabulate(frameBytes)(j =>
          synthFrameByte(id, f / repeat, j).toByte))
      val bytes = aviBytes(w, h, frames)
      MediaRecord(id, bytes, "avi", bytes.length.toLong)
    })
  }

  @inline def synthFrameByte(id: Long, frame: Int, j: Int): Int =
    ((id + frame.toLong * 31 + j.toLong * 7) % 256).toInt

  /** Synthetic AVI per row: dims, frame count and every frame byte are
    * deterministic functions of the id. */
  def withSyntheticAvi(docs: DataFrame, idCol: String,
      frameBytes: Int = 32): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    idsSpread(docs, idCol).as[Long].mapPartitions(_.map { id =>
      val w = (id % 100 + 1).toInt
      val h = (id * 3 % 100 + 1).toInt
      val n = (id % 7 + 1).toInt
      val frames = Seq.tabulate(n)(f =>
        Array.tabulate(frameBytes)(j => synthFrameByte(id, f, j).toByte))
      val bytes = aviBytes(w, h, frames)
      MediaRecord(id, bytes, "avi", bytes.length.toLong)
    })
  }

  // ------------------------------------------------------ real pixel decode

  /** REAL image codec on the JDK's `javax.imageio` — PNG/JPEG/GIF/BMP
    * readers ship in every standard JRE, so full pixel decode needs zero
    * external dependencies. Headless-safe: the property is set before any
    * AWT class loads, once per executor JVM (this object initializes
    * lazily inside the task that first touches it). Caveat: if driver-side
    * user code touched AWT *earlier* in the same JVM, the toolkit is
    * already locked in — launch with `-Djava.awt.headless=true` on a
    * display-less machine in that case. */
  object ImageCodec {
    System.setProperty("java.awt.headless", "true")
    // Stream-based ImageIO.read defaults to a DISK-backed cache file per
    // call; 32 concurrent decode tasks then serialize on /tmp writes
    // (observed as 2× pass-to-pass wall variance on q69). The payloads
    // are already in memory — use the in-memory cache.
    javax.imageio.ImageIO.setUseCache(false)

    /** Decode to a BufferedImage; None when no installed reader recognizes
      * the payload (or it is truncated/corrupt). */
    def decode(media: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(media)))
      catch { case _: java.io.IOException => None }

    /** Encode a BufferedImage as PNG bytes (lossless — the round-trip half
      * of the construct↔decode oracle). */
    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
  }

  /** Per-channel pixel statistics of a decoded image; `width` = -1 when
    * the payload did not decode. Means are exact sums over all pixels
    * divided by the pixel count; extrema per RGB channel. */
  final case class ImageStats(
      media_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double,
      min_r: Long, max_r: Long, min_g: Long, max_g: Long,
      min_b: Long, max_b: Long)

  final case class ImageAHash(
      media_id: Long, width: Int, height: Int,
      n_bits: Int, ahash_hi: Long, ahash_lo: Long, n_ones: Int)

  /** Perceptual average-hash over REAL decoded pixels — the image
    * near-dup primitive (re-encoded copies of the same picture hash
    * identically even when their bytes don't; Hamming-close hashes are
    * near-dup candidates for a banded join downstream). Per image:
    * integer luma `⌊(299r + 587g + 114b)/1000⌋` per pixel, bit i set
    * iff `luma_i · n > Σluma` (strict cross-multiplied comparison — no
    * float mean) over the first min(64, w·h) row-major pixels; the hash
    * ships as two 32-bit halves so it stays exactly representable in
    * any engine. Decode failure yields the width = -1 sentinel row.
    * Same batched `mapPartitions` posture as [[decodeImageStats]]: no
    * shuffle, per-row codec CPU. */
  def imageAHash(media: Dataset[MediaRecord]): Dataset[ImageAHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.media) match {
        case None => ImageAHash(r.media_id, -1, -1, 0, 0L, 0L, 0)
        case Some(img) =>
          val w = img.getWidth
          val h = img.getHeight
          val n = w * h
          val lumas = new Array[Long](n)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val l = (299L * ((rgb >> 16) & 0xff) +
                587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
              lumas(y * w + x) = l
              sum += l
              x += 1
            }
            y += 1
          }
          val nb = math.min(64, n)
          var hi = 0L
          var lo = 0L
          var ones = 0
          var i = 0
          while (i < nb) {
            if (lumas(i) * n > sum) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
              ones += 1
            }
            i += 1
          }
          ImageAHash(r.media_id, w, h, nb, hi, lo, ones)
      }
    })
  }

  final case class ImageDHash(
      media_id: Long, width: Int, height: Int,
      n_bits: Int, dhash_hi: Long, dhash_lo: Long, n_ones: Int)

  /** Perceptual difference-hash over REAL decoded pixels — [[
    * imageAHash]]'s standard companion: aHash thresholds each pixel
    * against the GLOBAL mean (robust to re-encoding, blind to uniform
    * brightness shifts only up to the mean), while dHash encodes local
    * GRADIENTS — bit i set iff `luma_{i+1} > luma_i` over the row-major
    * scan — so a brightness/contrast-shifted copy keeps its hash even
    * when every absolute luma moved (monotone tone curves preserve
    * adjacent-pixel order). Production image dedup runs both and pairs
    * each through [[graft.ops.Dedup.hammingNearDups]]; hashes disagree
    * on different edits. First min(64, w·h − 1) adjacent pairs, integer
    * luma, strict comparison, the same 32-bit-halves layout. Decode
    * failure yields the width = -1 sentinel row; a 1×1 image has 0
    * bits. Batched `mapPartitions`, no shuffle, per-row codec CPU. */
  def imageDHash(media: Dataset[MediaRecord]): Dataset[ImageDHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.media) match {
        case None => ImageDHash(r.media_id, -1, -1, 0, 0L, 0L, 0)
        case Some(img) =>
          val w = img.getWidth
          val h = img.getHeight
          val n = w * h
          val lumas = new Array[Long](n)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              lumas(y * w + x) = (299L * ((rgb >> 16) & 0xff) +
                587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
              x += 1
            }
            y += 1
          }
          val nb = math.min(64, n - 1)
          var hi = 0L
          var lo = 0L
          var ones = 0
          var i = 0
          while (i < nb) {
            if (lumas(i + 1) > lumas(i)) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
              ones += 1
            }
            i += 1
          }
          ImageDHash(r.media_id, w, h, nb, hi, lo, ones)
      }
    })
  }

  /** Q14 fixed-point 8-point DCT-II basis: `round(16384·cos((2x+1)uπ/16))`
    * for u,x ∈ 0..7 — pinned INTEGERS so [[imagePHash]] is deterministic
    * across JVMs and exactly replayable by a SQL oracle (the q252 oracle
    * inlines this very table as a VALUES list; float cosines would make
    * the hash platform-defined). */
  val DctQ14: Array[Array[Long]] = Array.tabulate(8, 8)((u, x) =>
    math.round(16384.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0)))

  final case class ImagePHash(
      media_id: Long, width: Int, height: Int,
      phash_hi: Long, phash_lo: Long, n_ones: Int)

  /** Perceptual DCT-hash over REAL decoded pixels — the third and most
    * robust tier of the perceptual trio ([[imageAHash]] = global mean,
    * [[imageDHash]] = local gradients, pHash = FREQUENCY structure): a
    * rescaled/re-encoded/smoothed copy keeps its low-frequency DCT
    * spectrum even when every pixel changed. Per image: nearest-neighbor
    * downsample to 8×8 (`src = (i·dim) / 8` integer division — exact,
    * no interpolation float), integer luma, 2-D DCT-II with the pinned
    * [[DctQ14]] Q14 basis (all products in 64-bit integers: |coef| ≤
    * 255·16384²·64 < 2⁶³), then bit p−1 set (p = v·8+u ∈ 1..63, DC
    * skipped) iff `coef(u,v) > median` of the 63 AC coefficients — the
    * 32nd order statistic, well-defined since 63 is odd. Ships as 31+32
    * bit halves; pairs through [[graft.ops.Dedup.hammingNearDups]] like
    * the other two. Decode failure yields the width = -1 sentinel.
    * Batched `mapPartitions`, no shuffle, per-row codec CPU. */
  def imagePHash(media: Dataset[MediaRecord]): Dataset[ImagePHash] = {
    import media.sparkSession.implicits._
    val t = DctQ14
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.media) match {
        case None => ImagePHash(r.media_id, -1, -1, 0L, 0L, 0)
        case Some(img) =>
          val w = img.getWidth
          val h = img.getHeight
          // nearest-neighbor 8×8 luma: L8(col i, row j)
          val l8 = Array.ofDim[Long](8, 8)
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 8) {
              val rgb = img.getRGB(i * w / 8, j * h / 8)
              l8(i)(j) = (299L * ((rgb >> 16) & 0xff) +
                587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
              i += 1
            }
            j += 1
          }
          // coef(u,v) = Σ_i Σ_j L8(i,j)·T(u,i)·T(v,j)
          val coef = new Array[Long](64)
          var v = 0
          while (v < 8) {
            var u = 0
            while (u < 8) {
              var acc = 0L
              var ii = 0
              while (ii < 8) {
                var jj = 0
                while (jj < 8) {
                  acc += l8(ii)(jj) * t(u)(ii) * t(v)(jj)
                  jj += 1
                }
                ii += 1
              }
              coef(v * 8 + u) = acc
              u += 1
            }
            v += 1
          }
          val ac = java.util.Arrays.copyOfRange(coef, 1, 64)
          java.util.Arrays.sort(ac)
          val median = ac(31) // 32nd smallest of 63
          var hi = 0L
          var lo = 0L
          var ones = 0
          var p = 1
          while (p < 64) {
            if (coef(p) > median) {
              val b = p - 1
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
              ones += 1
            }
            p += 1
          }
          ImagePHash(r.media_id, w, h, hi, lo, ones)
      }
    })
  }

  /** REAL pixel decode + per-channel stats, batched like the other tiers:
    * parallel `mapPartitions`, no shuffle — decode cost is per-row CPU,
    * which is exactly what a 1000-executor cluster scales linearly. Rows
    * whose payload doesn't decode yield the `width = -1` sentinel instead
    * of killing the task. */
  def decodeImageStats(media: Dataset[MediaRecord]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.media) match {
        case None =>
          ImageStats(r.media_id, -1, -1, 0, 0, 0, 0, 0, 0, 0, 0, 0)
        case Some(img) =>
          val w = img.getWidth
          val h = img.getHeight
          var sr, sg, sb = 0L
          var minR, minG, minB = 255L
          var maxR, maxG, maxB = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val cr = ((rgb >> 16) & 0xff).toLong
              val cg = ((rgb >> 8) & 0xff).toLong
              val cb = (rgb & 0xff).toLong
              sr += cr; sg += cg; sb += cb
              if (cr < minR) minR = cr; if (cr > maxR) maxR = cr
              if (cg < minG) minG = cg; if (cg > maxG) maxG = cg
              if (cb < minB) minB = cb; if (cb > maxB) maxB = cb
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          ImageStats(r.media_id, w, h,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
            minR, maxR, minG, maxG, minB, maxB)
      }
    })
  }

  /** Pixel value at (x, y) for the synthetic image of row `id` — linear in
    * id/x/y mod 256, so the DuckDB oracle replays the whole image
    * arithmetically. */
  @inline def synthPixel(id: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((id + 3L * x + 5L * y) % 256).toInt,
    ((3L * id + 7L * x + y) % 256).toInt,
    ((5L * id + x + 11L * y) % 256).toInt)

  /** Fully-encoded synthetic PNG per row (REAL `ImageIO` encode, not just
    * a header): dimensions and every pixel are deterministic functions of
    * the id, so decode statistics are arithmetically checkable — the
    * construct half of the construct↔decode round-trip. */
  def withSyntheticImage(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    idsSpread(docs, idCol).as[Long].mapPartitions(_.map { id =>
      val w = (id % 16 + 1).toInt
      val h = (id * 7 % 16 + 1).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val (r, g, b) = synthPixel(id, x, y)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bytes = ImageCodec.encodePng(img)
      MediaRecord(id, bytes, "png", bytes.length.toLong)
    })
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, countDistinct, least, lit, shiftright, when}

/** Multimodal (binary-payload) column processing — SURVEY §2 q36.
  *
  * Media assets ride as opaque `binary` columns with typed metadata
  * (format/width/height), the layout a 100 TB training-data lake
  * uses: payload bytes stay columnar-compressed in parquet and are
  * only materialized inside the decode stage.
  *
  * The decode stage is a typed `mapPartitions` — the Scala analog of
  * `mapInPandas` batch shape: one kernel invocation stream per
  * partition, no per-row serialization boundary, partitioning
  * preserved.
  *
  * Kernels: RASTER IMAGE decode/resize are REAL — `javax.imageio`
  * (PNG/JPEG/BMP/GIF) ships in every JDK and runs headless, see
  * [[ImageIoDecode]]/[[ImageIoResize]] — and so are PCM AUDIO
  * decode/resample/downmix — `javax.sound.sampled` (WAV/AIFF/AU)
  * is in the same `java.desktop` module, see
  * [[JavaSoundDecode]]/[[JavaSoundResample]]. VIDEO is real for the
  * two containers a bare JDK can decode — MJPEG (concatenated JPEG
  * frames → ImageIO) and Y4M/YUV4MPEG2 (plain-text header + raw
  * 4:2:0 planes), see [[JdkVideoDecode]]/[[JdkVideoFrames]]; only
  * inter-frame codecs (H.264/VP9/AV1) are genuinely absent, so the
  * byte-statistics kernel q36's deterministic oracle corpus uses and
  * the byte-slice frame sampler stay clearly-marked fakes for those;
  * implement the same traits with a real codec and nothing else
  * changes.
  */
object Multimodal {

  // ImageIO's default stream cache backs every encode/decode with a
  // TEMP FILE (FileCacheImage{In,Out}putStream) — pure disk overhead
  // on these ~KB in-memory payloads, paid per image per codec call.
  // Memory-cached streams produce byte-identical output. JVM-global,
  // set once when the media kernels load (r18: a q64 phase split
  // measured the synth+encode+hash stage dropping ~40% — see
  // OPTIMIZATION_r18.md).
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(doc_id: Long, fmt: String, width: Int, height: Int, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, fmt: String, width: Int, height: Int,
      octet_len: Long, checksum: Long)

  /** Pluggable per-payload decode/feature kernel. */
  trait DecodeKernel extends Serializable {
    /** (octet length, content checksum) stand-in for real features. */
    def features(payload: Array[Byte]): (Long, Long)
  }

  /** Byte-statistics kernel: q36's oracle corpus is deterministic
    * synthetic bytes (not image files), so its features are byte
    * stats both engines replay. For real image files use
    * [[ImageIoDecode]] / [[decodeImages]]. */
  object FakeDecode extends DecodeKernel {
    def features(p: Array[Byte]): (Long, Long) = {
      var s = 0L
      var i = 0
      while (i < p.length) { s += p(i) & 0xff; i += 1 }
      (p.length.toLong, s % 9973)
    }
  }

  /** Run the decode kernel partition-wise over media rows. */
  def decode(rows: Dataset[MediaRow], kernel: DecodeKernel = FakeDecode): DataFrame = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        val (len, sum) = kernel.features(r.payload)
        MediaFeatures(r.doc_id, r.fmt, r.width, r.height, len, sum)
      }
    }.toDF()
  }

  /** Pixel-derived image features: dimensions/channels read from the
    * DECODED image (not trusted metadata — `meta_matches` flags
    * drift), plus mean 8-bit luma (BT.601 weights). `decoded = false`
    * rows carry the payload that failed to parse: corrupt media must
    * surface, not kill the job or silently vanish. */
  case class ImageFeatures(doc_id: Long, fmt: String, decoded: Boolean,
      px_width: Int, px_height: Int, channels: Int, mean_luma: Double,
      meta_matches: Boolean)

  /** Pluggable REAL image decode kernel: payload → (w, h, channels,
    * mean luma), or None when the bytes are not a decodable image. */
  trait ImageDecodeKernel extends Serializable {
    def decode(payload: Array[Byte]): Option[(Int, Int, Int, Double)]
  }

  /** Shared ImageIO decode guard: None for undecodable payloads.
    * Catches NonFatal, not just IOException — JDK decoder plugins
    * throw RuntimeExceptions (ArrayIndexOutOfBounds, NegativeArraySize,
    * IllegalArgument) on malformed-but-recognized bodies, and a
    * corrupt payload must surface as a flag on its row, never kill
    * the task. */
  private[operators] def readImage(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** BT.601 integer-RGB luma of one sRGB pixel. */
  @inline private[operators] def lumaOf(rgb: Int): Double =
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)

  /** JDK-builtin raster decode (`javax.imageio`: PNG/JPEG/BMP/GIF),
    * headless-safe — a REAL codec, not a stub. Luma is the BT.601
    * integer-RGB weighting summed in pixel-raster order; getRGB
    * converts any source color model to sRGB, so the statistic is
    * format-independent. */
  object ImageIoDecode extends ImageDecodeKernel {
    def decode(p: Array[Byte]): Option[(Int, Int, Int, Double)] =
      readImage(p).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            sum += lumaOf(img.getRGB(x, y))
            x += 1
          }
          y += 1
        }
        (w, h, img.getColorModel.getNumComponents, sum / (w.toLong * h))
      }
  }

  /** Decode real image payloads partition-wise (1:1, shuffle-free —
    * same plan shape as [[decode]]); every row survives, with
    * `decoded`/`meta_matches` flags instead of dropped rows or a
    * poisoned task. */
  def decodeImages(rows: Dataset[MediaRow],
      kernel: ImageDecodeKernel = ImageIoDecode): Dataset[ImageFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        kernel.decode(r.payload) match {
          case Some((w, h, ch, luma)) =>
            ImageFeatures(r.doc_id, r.fmt, decoded = true, w, h, ch, luma,
              meta_matches = w == r.width && h == r.height)
          case None =>
            ImageFeatures(r.doc_id, r.fmt, decoded = false, 0, 0, 0, 0.0, meta_matches = false)
        }
      }
    }
  }

  /** Pluggable perceptual image hash kernel: payload → 60-bit
    * fingerprint, or None for undecodable bytes. */
  trait ImageHashKernel extends Serializable {
    def hash(payload: Array[Byte]): Option[Long]
  }

  /** 60-bit average-hash (aHash) perceptual fingerprint — the
    * classic near-dup IMAGE detector: decode, AREA-AVERAGE the full
    * raster onto the 8×8 grid (every source pixel contributes to
    * exactly one cell — NOT a one-step bilinear drawImage, which
    * point-samples 2×2 neighborhoods and ignores ~99% of a large
    * image's pixels, breaking cross-resolution matching on textured
    * content), take BT.601 luma per cell, set bit i iff cell i's
    * luma ≥ the grid mean (first 60 of the 64 cells, so the hash
    * drops straight into [[Dedup.simhashPairs]]' 4×15-bit band
    * blocking, complete for hamming ≤ 3). Scale invariance: cell
    * means are pixel averages over proportional regions, so any
    * resolution of the same image yields the same cell statistics
    * (up to ±1-pixel cell-boundary rounding, absorbed by the hamming
    * tolerance). Images narrower/shorter than 8px leave empty cells,
    * which take the grid mean (bit set). Solid-color images all
    * share one hash — the standard aHash property; callers wanting
    * to split them add a mean-luma refinement. */
  object AHash60 extends ImageHashKernel {
    def hash(p: Array[Byte]): Option[Long] = readImage(p).map(hashImage)

    /** The kernel over an already-decoded frame — lets in-memory
      * compositions ([[videoNearDups]]) skip an encode/decode
      * round-trip through payload bytes. */
    def hashImage(img: java.awt.image.BufferedImage): Long = {
        val w = img.getWidth
        val h = img.getHeight
        val sums = new Array[Double](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = (y.toLong * 8 / h).toInt * 8
          var x = 0
          while (x < w) {
            val c = cy + (x.toLong * 8 / w).toInt
            sums(c) += lumaOf(img.getRGB(x, y))
            counts(c) += 1
            x += 1
          }
          y += 1
        }
        var total = 0.0
        var n = 0
        var i = 0
        while (i < 64) {
          if (counts(i) > 0) { sums(i) /= counts(i); total += sums(i); n += 1 }
          i += 1
        }
        val mean = total / math.max(1, n)
        var out = 0L
        i = 0
        while (i < 60) {
          if (counts(i) == 0 || sums(i) >= mean) out |= (1L << i)
          i += 1
        }
        out
      }
  }

  /** Perceptual fingerprints partition-wise (1:1, shuffle-free):
    * (doc_id, decoded, simhash) — column named to feed
    * [[Dedup.simhashPairs]] directly. Undecodable payloads surface
    * as decoded = false with a zero hash, never silently vanish. */
  def hashImages(rows: Dataset[MediaRow],
      kernel: ImageHashKernel = AHash60): DataFrame = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        kernel.hash(r.payload) match {
          case Some(h) => (r.doc_id, true, h)
          case None => (r.doc_id, false, 0L)
        }
      }
    }.toDF("id", "decoded", "simhash")
  }

  /** Near-duplicate IMAGE pairs — the multimodal dedup composition:
    * aHash fingerprints ([[hashImages]], one shuffle-free scan of the
    * payload column) fed through the TEXT dedup family's banded
    * blocking ([[Dedup.simhashPairs]]: 4×15-bit bands, complete for
    * `maxDist` ≤ 3, candidate pairs bounded by band-bucket occupancy
    * — never an all-pairs comparison). Undecodable payloads are
    * excluded (they have no visual content to match; they surface in
    * [[hashImages]]/[[decodeImages]] output for routing). */
  def imageNearDups(rows: Dataset[MediaRow], maxDist: Int = 3,
      kernel: ImageHashKernel = AHash60): DataFrame =
    Dedup.simhashPairs(
      hashImages(rows, kernel).filter(col("decoded")).select(col("id"), col("simhash")),
      maxDist)

  /** Pluggable payload resize kernel (payload → payload at target
    * dims). */
  trait ResizeKernel extends Serializable {
    def resize(payload: Array[Byte], srcW: Int, srcH: Int, dstW: Int, dstH: Int): Array[Byte]
  }

  /** JDK-builtin raster resize: decode via ImageIO, bilinear-scale
    * through an offscreen Graphics2D (pure software path — no
    * display needed), re-encode as PNG (lossless, so tests can
    * re-decode and assert pixels). Undecodable payloads pass through
    * UNCHANGED — the downstream [[decodeImages]] stage is where
    * corrupt media is detected and routed; a resize stage silently
    * fabricating bytes (or killing the job) would hide it. */
  object ImageIoResize extends ResizeKernel {
    def resize(p: Array[Byte], sw: Int, sh: Int, dw: Int, dh: Int): Array[Byte] =
      readImage(p) match {
        case None => p
        case Some(img) =>
          val dst = new java.awt.image.BufferedImage(dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, dw, dh, null)
          } finally g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", out)
          out.toByteArray
      }
  }

  /** STUB resize: deterministic proportional byte subsample — the
    * payload shrinks/grows by the pixel-count ratio, standing in for
    * a real scaler. Schema, 1:1 cardinality, metadata update, and
    * partition-wise execution are the real contract. */
  object FakeResize extends ResizeKernel {
    def resize(p: Array[Byte], sw: Int, sh: Int, dw: Int, dh: Int): Array[Byte] = {
      if (p.isEmpty) return p // zero-byte/corrupt media: nothing to scale
      val srcPx = math.max(1L, sw.toLong * sh)
      val outLen = math.min(Int.MaxValue.toLong,
        math.max(1L, p.length * (dw.toLong * dh) / srcPx)).toInt
      Array.tabulate(outLen)(i => p(((i.toLong * p.length) / outLen).toInt))
    }
  }

  /** Resize every payload to (dstW, dstH), partition-wise (1:1, no
    * shuffle; metadata rewritten alongside the bytes). */
  def resize(rows: Dataset[MediaRow], dstW: Int, dstH: Int,
      kernel: ResizeKernel = FakeResize): Dataset[MediaRow] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map(r => MediaRow(r.doc_id, r.fmt, dstW, dstH,
        kernel.resize(r.payload, r.width, r.height, dstW, dstH)))
    }
  }

  /** Waveform-derived audio features: container header fields read
    * from the DECODED stream (not trusted metadata), plus RMS/peak
    * amplitude over normalized samples. `decoded = false` rows carry
    * payloads that failed to parse — corrupt media surfaces, never
    * kills the job. */
  case class AudioFeatures(doc_id: Long, fmt: String, decoded: Boolean,
      sample_rate: Int, channels: Int, bits: Int, n_frames: Long,
      duration_s: Double, rms: Double, peak: Double)

  /** Pluggable REAL audio decode kernel: payload → (rate, channels,
    * bits, frames, rms, peak), or None for undecodable bytes. */
  trait AudioDecodeKernel extends Serializable {
    def decode(payload: Array[Byte]): Option[(Int, Int, Int, Long, Double, Double)]
  }

  /** Shared audio-open guard — the [[readImage]] of the audio family:
    * None for unparseable containers, NonFatal because JDK audio
    * readers can throw RuntimeExceptions on crafted headers. */
  private[operators] def openAudio(p: Array[Byte]): Option[javax.sound.sampled.AudioInputStream] =
    try Option(javax.sound.sampled.AudioSystem
      .getAudioInputStream(new java.io.ByteArrayInputStream(p)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Normalize any PCM flavor (8-bit unsigned, big-endian, float) to
    * 16-bit signed little-endian at the SOURCE rate/channel count via
    * the JDK conversion chain — shared by every audio kernel so the
    * conversion lives in one place. */
  private[operators] def toPcm16(in: javax.sound.sampled.AudioInputStream): javax.sound.sampled.AudioInputStream = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val f0 = in.getFormat
    val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      f0.getSampleRate, 16, f0.getChannels, 2 * f0.getChannels,
      f0.getSampleRate, false)
    if (f0.matches(target)) in else AudioSystem.getAudioInputStream(target, in)
  }

  /** JDK-builtin audio decode (`javax.sound.sampled`: WAV/AIFF/AU
    * containers, PCM encodings), headless-safe — a REAL codec, the
    * audio twin of [[ImageIoDecode]]. Non-PCM payloads are first
    * converted to 16-bit signed PCM through the JDK's own conversion
    * chain; samples normalize to [-1, 1] before the RMS/peak fold so
    * the statistics are bit-depth-independent. */
  object JavaSoundDecode extends AudioDecodeKernel {
    def decode(p: Array[Byte]): Option[(Int, Int, Int, Long, Double, Double)] = {
      val in = openAudio(p).orNull
      if (in == null) None
      else
        try {
          val f0 = in.getFormat
          val pcm = toPcm16(in)
          val buf = new Array[Byte](1 << 16)
          var sumSq = 0.0
          var peak = 0.0
          var nSamples = 0L
          var read = pcm.read(buf)
          while (read > 0) {
            var i = 0
            while (i + 1 < read) {
              val s = ((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort / 32768.0
              sumSq += s * s
              val a = math.abs(s)
              if (a > peak) peak = a
              nSamples += 1
              i += 2
            }
            read = pcm.read(buf)
          }
          val frames = nSamples / math.max(1, f0.getChannels)
          val rms = if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples)
          Some((f0.getSampleRate.toInt, f0.getChannels,
            f0.getSampleSizeInBits, frames, rms, peak))
        } catch {
          case _: IllegalArgumentException => None // unconvertible encoding
          case _: java.io.IOException => None
        } finally in.close()
    }
  }

  /** Decode audio payloads partition-wise (1:1, shuffle-free — the
    * [[decodeImages]] plan shape on the audio modality). */
  def decodeAudio(rows: Dataset[MediaRow],
      kernel: AudioDecodeKernel = JavaSoundDecode): Dataset[AudioFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        kernel.decode(r.payload) match {
          case Some((rate, ch, bits, frames, rms, peak)) =>
            AudioFeatures(r.doc_id, r.fmt, decoded = true, rate, ch, bits, frames,
              frames.toDouble / math.max(1, rate), rms, peak)
          case None =>
            AudioFeatures(r.doc_id, r.fmt, decoded = false, 0, 0, 0, 0L, 0.0, 0.0, 0.0)
        }
      }
    }
  }

  /** Pluggable audio resample/downmix kernel (payload → WAV payload
    * at the target rate/channel count). */
  trait AudioResampleKernel extends Serializable {
    def resample(payload: Array[Byte], dstRate: Int, dstChannels: Int): Array[Byte]
  }

  /** JDK-builtin resample + downmix: decode, convert through
    * `AudioSystem`'s PCM conversion chain (rate + channel-count
    * change in pure Java), re-encode as 16-bit PCM WAV — the audio
    * twin of [[ImageIoResize]]. Undecodable payloads pass through
    * UNCHANGED; [[decodeAudio]] downstream is where corruption is
    * detected and routed. */
  object JavaSoundResample extends AudioResampleKernel {
    def resample(p: Array[Byte], dstRate: Int, dstChannels: Int): Array[Byte] = {
      import javax.sound.sampled.{AudioFormat, AudioSystem, AudioFileFormat}
      val in = openAudio(p).orNull
      if (in == null) p
      else
        try {
          // two-hop conversion: the JDK converter changes ONE of
          // (channels, rate) per hop reliably, so downmix first at the
          // source rate, then resample
          val f0 = in.getFormat
          val mid = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            f0.getSampleRate, 16, dstChannels, 2 * dstChannels, f0.getSampleRate, false)
          val dst = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            dstRate.toFloat, 16, dstChannels, 2 * dstChannels, dstRate.toFloat, false)
          val converted = AudioSystem.getAudioInputStream(dst,
            AudioSystem.getAudioInputStream(mid, in))
          // rate converters report frame length NOT_SPECIFIED, which
          // the RIFF writer rejects — materialize the PCM and restate
          // the exact length before encoding
          val pcm = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](1 << 16)
          var read = converted.read(buf)
          while (read > 0) { pcm.write(buf, 0, read); read = converted.read(buf) }
          val body = pcm.toByteArray
          val out = new java.io.ByteArrayOutputStream()
          AudioSystem.write(new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(body), dst,
            body.length.toLong / (2 * dstChannels)),
            AudioFileFormat.Type.WAVE, out)
          out.toByteArray
        } catch {
          case _: IllegalArgumentException => p
          case _: java.io.IOException => p
        } finally in.close()
    }
  }

  /** Resample every audio payload to (dstRate, dstChannels),
    * partition-wise (1:1, no shuffle). */
  def resampleAudio(rows: Dataset[MediaRow], dstRate: Int, dstChannels: Int,
      kernel: AudioResampleKernel = JavaSoundResample): Dataset[MediaRow] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map(r => MediaRow(r.doc_id, r.fmt, r.width, r.height,
        kernel.resample(r.payload, dstRate, dstChannels)))
    }
  }

  /** Pluggable perceptual audio hash kernel: payload → 60-bit
    * fingerprint, or None for undecodable/too-short bytes. */
  trait AudioHashKernel extends Serializable {
    def hash(payload: Array[Byte]): Option[Long]
  }

  /** 60-bit audio envelope hash — the audio member of the perceptual
    * near-dup family and [[AHash60]]'s exact twin on the TIME axis:
    * decode to mono PCM, AREA-AVERAGE the squared amplitude onto 60
    * equal time slices (every sample frame contributes to exactly one
    * slice), set bit i iff slice i's mean energy ≥ the clip mean.
    * Sample-rate invariance: slices are proportional spans of the
    * clip, so any resampling of the same recording yields the same
    * slice statistics (up to boundary rounding, absorbed by the
    * hamming tolerance). Amplitude invariance: the threshold is the
    * clip's OWN mean, so uniform gain cancels. Silent/constant clips
    * all share one hash — the aHash property. NOT tempo/pitch
    * robust: this matches re-encodes, resamples, downmixes, and
    * level changes of the SAME recording, which is the dedup
    * question a training-data lake asks. Clips shorter than 60
    * frames yield None. */
  object AudioHash60 extends AudioHashKernel {
    def hash(p: Array[Byte]): Option[Long] = {
      val in = openAudio(p).orNull
      if (in == null) None
      else
        try {
          val f0 = in.getFormat
          val pcm = toPcm16(in)
          // same-rate conversion preserves frame count; fall back to the
          // container's own length if the converter reports unknown
          val nFrames = { val l = pcm.getFrameLength; if (l > 0) l else in.getFrameLength }
          if (nFrames < 60) None
          else {
            val ch = f0.getChannels
            val frameBytes = 2 * ch
            val sums = new Array[Double](60)
            val counts = new Array[Long](60)
            val buf = new Array[Byte](1 << 16)
            var frame = 0L
            var carry = 0
            var read = pcm.read(buf, 0, buf.length)
            while (read > 0) {
              val avail = carry + read
              var i = 0
              while (i + frameBytes <= avail) {
                var c = 0
                var m = 0.0
                while (c < ch) {
                  m += ((buf(i + 2 * c) & 0xff) | (buf(i + 2 * c + 1) << 8)).toShort / 32768.0
                  c += 1
                }
                m /= ch
                val slice = math.min(59L, frame * 60 / nFrames).toInt
                sums(slice) += m * m
                counts(slice) += 1
                frame += 1
                i += frameBytes
              }
              carry = avail - i
              System.arraycopy(buf, i, buf, 0, carry)
              read = pcm.read(buf, carry, buf.length - carry)
            }
            // a TRUNCATED file (header claims more frames than the
            // stream delivers — interrupted downloads) must surface as
            // undecodable, not hash: never-read slices would get forced
            // 1-bits, and two unrelated truncated files then land
            // within hamming 3 of each other's near-all-ones hash and
            // falsely pair
            if (frame < nFrames) None
            else {
              var total = 0.0
              var n = 0
              var i = 0
              while (i < 60) {
                if (counts(i) > 0) { sums(i) /= counts(i); total += sums(i); n += 1 }
                i += 1
              }
              if (n == 0) None
              else {
                val mean = total / n
                var out = 0L
                i = 0
                while (i < 60) {
                  if (counts(i) == 0 || sums(i) >= mean) out |= (1L << i)
                  i += 1
                }
                Some(out)
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None } finally in.close()
    }
  }

  /** Audio perceptual fingerprints partition-wise (1:1, shuffle-free
    * — [[hashImages]]' shape on the audio modality): (id, decoded,
    * simhash), named to feed [[Dedup.simhashPairs]] directly. */
  def hashAudio(rows: Dataset[MediaRow],
      kernel: AudioHashKernel = AudioHash60): DataFrame = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        kernel.hash(r.payload) match {
          case Some(h) => (r.doc_id, true, h)
          case None => (r.doc_id, false, 0L)
        }
      }
    }.toDF("id", "decoded", "simhash")
  }

  /** Near-duplicate AUDIO pairs — closing the near-dup family across
    * all three media modalities (text SimHash, image/video aHash,
    * audio envelope hash), all through the SAME banded blocking:
    * candidate pairs bounded by band-bucket occupancy, never
    * all-pairs. Undecodable or too-short payloads are excluded (they
    * surface in [[hashAudio]]/[[decodeAudio]] for routing). */
  def audioNearDups(rows: Dataset[MediaRow], maxDist: Int = 3,
      kernel: AudioHashKernel = AudioHash60): DataFrame =
    Dedup.simhashPairs(
      hashAudio(rows, kernel).filter(col("decoded")).select(col("id"), col("simhash")),
      maxDist)

  case class FrameRow(doc_id: Long, frame_idx: Int, payload: Array[Byte])

  /** Pluggable video→frames kernel. */
  trait FrameSampleKernel extends Serializable {
    def frames(payload: Array[Byte], n: Int): Seq[Array[Byte]]
  }

  /** STUB frame sampler: n contiguous byte slices stand in for
    * decoded frames. The 1:N explode shape (one media row fans out to
    * frame rows inside the partition, no shuffle, no driver
    * involvement) is the production contract. */
  object FakeFrameSample extends FrameSampleKernel {
    def frames(p: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val m = math.max(1, math.min(n, p.length))
      (0 until m).map { i =>
        val from = (i.toLong * p.length / m).toInt
        val until = ((i + 1).toLong * p.length / m).toInt
        java.util.Arrays.copyOfRange(p, from, math.max(from + 1, until))
      }
    }
  }

  /** Sample up to `n` frames per media row, partition-wise (1:N). */
  def frameSample(rows: Dataset[MediaRow], n: Int,
      kernel: FrameSampleKernel = FakeFrameSample): Dataset[FrameRow] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        kernel.frames(r.payload, n).iterator.zipWithIndex
          .map { case (f, i) => FrameRow(r.doc_id, i, f) }
      }
    }
  }

  // ──────────────────────────── video ────────────────────────────

  /** Parsed Y4M (YUV4MPEG2) container: dims, frame rate, and the
    * byte offset of each frame's plane data (C420 layout: w×h luma
    * then two quarter-size chroma planes). */
  private final case class Y4m(w: Int, h: Int, fps: Double, frameOffsets: Array[Int])

  /** Parse a Y4M payload: `YUV4MPEG2 W.. H.. F<n>:<d> .. C420..\n`
    * then per frame a `FRAME[ params]\n` line + raw planes. None for
    * non-Y4M bytes, truncated frames, or non-4:2:0 color (C444 etc.
    * would need different plane math — refuse rather than misread). */
  private def parseY4m(p: Array[Byte]): Option[Y4m] =
    try {
      val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
      if (p.length < magic.length || !magic.indices.forall(i => p(i) == magic(i))) return None
      val eol = p.indexOf('\n'.toByte)
      if (eol < 0) return None
      var w = 0; var h = 0; var fps = 0.0; var colorOk = true
      new String(p, 0, eol, "US-ASCII").split(' ').drop(1).foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.drop(1).toInt
          case 'H' => h = t.drop(1).toInt
          case 'F' =>
            val nd = t.drop(1).split(':')
            fps = nd(0).toDouble / nd(1).toDouble
          case 'C' => colorOk = t.startsWith("C420")
          case _ => () // interlacing/aspect/extension params: ignored
        }
      }
      if (w <= 0 || h <= 0 || !colorOk) return None
      // plane math in Long: crafted header dims (46341×46341) wrap a
      // 32-bit product negative and would defeat the truncation guard
      // below — refuse anything that can't even fit one frame offset
      val frameSizeL = w.toLong * h + 2L * ((w + 1) / 2) * ((h + 1) / 2)
      if (frameSizeL > Int.MaxValue) return None
      val frameSize = frameSizeL.toInt
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var pos = eol + 1
      while (pos < p.length) {
        var e = pos
        while (e < p.length && p(e) != '\n') e += 1
        if (e >= p.length) return None // truncated frame header
        if (!new String(p, pos, math.min(5, e - pos), "US-ASCII").equals("FRAME")) return None
        if (e.toLong + 1 + frameSize > p.length) return None // truncated planes
        offs += e + 1
        pos = e + 1 + frameSize
      }
      Some(Y4m(w, h, fps, offs.toArray))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** End offset (exclusive) of the JPEG starting at `soi`, walking
    * marker SEGMENTS by their length fields rather than raw-scanning
    * for FF D9 — camera JPEGs routinely embed an EXIF APP1 thumbnail
    * with its OWN SOI/EOI, which a raw scan would mistake for the
    * frame end. Inside entropy-coded data (after SOS) every FF is
    * either 00-stuffed or a D0–D7 restart, so for a SINGLE-scan
    * (baseline) frame the first FF D9 after SOS IS the real EOI.
    * Progressive JPEGs (SOF2/6/10/14) and DNL streams are multi-scan:
    * their post-first-SOS table segments may contain a literal FF D9,
    * so the frame boundary is not decidable by this walk — REFUSE
    * (-1) rather than risk splitting a frame early. Baseline JPEG —
    * every camera MJPEG and the ImageIO default — has one SOS.
    * -1 for malformed/truncated streams. */
  private def jpegEnd(p: Array[Byte], soi: Int): Int = {
    var i = soi + 2
    while (i + 1 < p.length) {
      if ((p(i) & 0xff) != 0xff) return -1 // expected a marker
      val m = p(i + 1) & 0xff
      if (m == 0xd9) return i + 2
      else if (m == 0xc2 || m == 0xc6 || m == 0xca || m == 0xce || m == 0xdc)
        return -1 // progressive SOF / DNL: multi-scan, boundary undecidable
      else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
      else if (m == 0xda) {
        // SOS header, then entropy-coded data until the true EOI
        if (i + 3 >= p.length) return -1
        var j = i + 2 + (((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff))
        while (j + 1 < p.length) {
          if ((p(j) & 0xff) == 0xff && (p(j + 1) & 0xff) == 0xd9) return j + 2
          j += 1
        }
        return -1
      } else {
        // segment with a 2-byte big-endian length (self-inclusive)
        if (i + 3 >= p.length) return -1
        val len = ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
        if (len < 2) return -1
        i += 2 + len
      }
    }
    -1
  }

  /** Byte ranges [start, end) of each JPEG in an MJPEG concatenation
    * (SOI 0xFFD8 … EOI 0xFFD9, repeated; frame ends found by
    * [[jpegEnd]]'s segment walk). None unless the payload starts at
    * an SOI and partitions cleanly into frames. */
  private def mjpegRanges(p: Array[Byte]): Option[Array[(Int, Int)]] = {
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pos = 0
    while (pos < p.length) {
      if (pos + 1 >= p.length || (p(pos) & 0xff) != 0xff || (p(pos + 1) & 0xff) != 0xd8) return None
      val end = jpegEnd(p, pos)
      if (end < 0) return None // no EOI: truncated frame
      frames += ((pos, end))
      pos = end
    }
    if (frames.isEmpty) None else Some(frames.toArray)
  }

  /** Container-derived video features — header fields read from the
    * PARSED stream, never trusted metadata. MJPEG carries no timing,
    * so fps/duration are 0 there; `decoded = false` rows surface
    * corrupt or unsupported payloads without killing the job. */
  case class VideoFeatures(doc_id: Long, fmt: String, decoded: Boolean,
      width: Int, height: Int, fps: Double, n_frames: Int, duration_s: Double)

  /** Pluggable video container decode kernel: payload → (w, h, fps,
    * n_frames); fps 0 when the container carries no timing. */
  trait VideoDecodeKernel extends Serializable {
    def decode(payload: Array[Byte]): Option[(Int, Int, Double, Int)]
  }

  /** JDK-only REAL video decode for the two containers a bare JDK
    * can parse: Y4M (header math above) and MJPEG (frame count from
    * the SOI/EOI scan, dims from ImageIO on the first frame). */
  object JdkVideoDecode extends VideoDecodeKernel {
    def decode(p: Array[Byte]): Option[(Int, Int, Double, Int)] =
      parseY4m(p) match {
        case Some(y) => Some((y.w, y.h, y.fps, y.frameOffsets.length))
        case None => mjpegRanges(p).flatMap { fs =>
          readImage(java.util.Arrays.copyOfRange(p, fs(0)._1, fs(0)._2))
            .map(img => (img.getWidth, img.getHeight, 0.0, fs.length))
        }
      }
  }

  /** Decode video payloads partition-wise (1:1, shuffle-free — the
    * [[decodeImages]] plan shape on the video modality). */
  def decodeVideo(rows: Dataset[MediaRow],
      kernel: VideoDecodeKernel = JdkVideoDecode): Dataset[VideoFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        kernel.decode(r.payload) match {
          case Some((w, h, fps, n)) =>
            VideoFeatures(r.doc_id, r.fmt, decoded = true, w, h, fps, n,
              if (fps > 0) n / fps else 0.0)
          case None =>
            VideoFeatures(r.doc_id, r.fmt, decoded = false, 0, 0, 0.0, 0, 0.0)
        }
      }
    }
  }

  @inline private def clamp255(d: Double): Int =
    math.max(0, math.min(255, math.round(d).toInt))

  /** One Y4M frame → decoded image: BT.601 full-range YCbCr→RGB over
    * the 4:2:0 planes (each chroma sample covers a 2×2 luma block). */
  private def y4mFrameImage(p: Array[Byte], y4m: Y4m, idx: Int): java.awt.image.BufferedImage = {
    val off = y4m.frameOffsets(idx)
    val w = y4m.w
    val h = y4m.h
    val cw = (w + 1) / 2
    val uOff = off + w * h
    val vOff = uOff + cw * ((h + 1) / 2)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val lum = p(off + y * w + x) & 0xff
        val u = (p(uOff + (y / 2) * cw + x / 2) & 0xff) - 128
        val v = (p(vOff + (y / 2) * cw + x / 2) & 0xff) - 128
        img.setRGB(x, y,
          (clamp255(lum + 1.402 * v) << 16) |
          (clamp255(lum - 0.344136 * u - 0.714136 * v) << 8) |
          clamp255(lum + 1.772 * u))
        x += 1
      }
      y += 1
    }
    img
  }

  /** One Y4M frame → lossless PNG bytes (the payload-valued contract
    * [[JdkVideoFrames]] exposes to generic consumers). */
  private def y4mFramePng(p: Array[Byte], y4m: Y4m, idx: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(y4mFrameImage(p, y4m, idx), "png", out)
    out.toByteArray
  }

  /** Evenly-spaced sample of `n` indices from [0, total). */
  private def sampleIdx(total: Int, n: Int): Seq[Int] = {
    val m = math.max(1, math.min(n, total))
    (0 until m).map(i => (i.toLong * total / m).toInt)
  }

  /** REAL frame sampler for the JDK-decodable containers: n evenly
    * spaced frames, each a REAL image payload the downstream image
    * family consumes directly — Y4M frames re-encode as lossless PNG
    * ([[y4mFramePng]]), MJPEG frames are their JPEG bytes verbatim.
    * Undecodable payloads yield NO frames (routing corrupt media is
    * [[decodeVideo]]'s job; fabricating frame bytes here would hide
    * it). */
  object JdkVideoFrames extends FrameSampleKernel {
    def frames(p: Array[Byte], n: Int): Seq[Array[Byte]] =
      try parseY4m(p) match {
        case Some(y) if y.frameOffsets.nonEmpty =>
          sampleIdx(y.frameOffsets.length, n).map(i => y4mFramePng(p, y, i))
        case Some(_) => Seq.empty // header-only Y4M: no frames to sample
        case None => mjpegRanges(p) match {
          case Some(fs) => sampleIdx(fs.length, n)
            .map { i => java.util.Arrays.copyOfRange(p, fs(i)._1, fs(i)._2) }
          case None => Seq.empty
        }
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  /** Frame perceptual hashes for the JDK containers WITHOUT the
    * encode/decode round-trip [[JdkVideoFrames]] pays for generic
    * consumers: Y4M frames hash the in-memory decoded image
    * directly, MJPEG frames decode their JPEG bytes exactly once.
    * Undecodable payloads/frames yield no hashes. */
  private[graft] def frameHashes(p: Array[Byte], n: Int): Seq[Long] =
    try parseY4m(p) match {
      case Some(y) if y.frameOffsets.nonEmpty =>
        sampleIdx(y.frameOffsets.length, n).map(i => AHash60.hashImage(y4mFrameImage(p, y, i)))
      case Some(_) => Seq.empty
      case None => mjpegRanges(p) match {
        case Some(fs) => sampleIdx(fs.length, n).flatMap { i =>
          readImage(java.util.Arrays.copyOfRange(p, fs(i)._1, fs(i)._2)).map(AHash60.hashImage)
        }
        case None => Seq.empty
      }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Near-duplicate VIDEO pairs — the video member of the dedup
    * family: sample `framesPerVideo` REAL frames per video, aHash
    * each ([[frameHashes]] — in-memory, no payload round-trip), and
    * feed ALL frame fingerprints through ONE banded-blocking pass
    * ([[Dedup.simhashPairs]]), so candidate pairs stay bounded by
    * band-bucket occupancy across the whole corpus — never
    * per-video-pair frame comparison. Frame identity packs as
    * `doc_id << 10 | idx` (framesPerVideo ≤ 1024; doc_id must fit
    * 53 bits, enforced loudly — hash-derived 64-bit ids would lose
    * their top bits silently). `matching_frames` counts DISTINCT
    * matched frames on the weaker side (min over the two videos),
    * not frame pairs: a static clip whose k identical frames all hit
    * ONE frame of another video contributes 1, not k — so
    * `minMatchingFrames` ≥ 2 genuinely requires two shared scenes.
    * Output: (id_a, id_b, matching_frames). */
  def videoNearDups(rows: Dataset[MediaRow], framesPerVideo: Int = 8,
      maxDist: Int = 3, minMatchingFrames: Int = 2): DataFrame = {
    require(framesPerVideo >= 1 && framesPerVideo <= 1024,
      s"frame index packs into 10 bits, got framesPerVideo=$framesPerVideo")
    import rows.sparkSession.implicits._
    val hashed = rows.mapPartitions { it =>
      it.flatMap { r =>
        require(r.doc_id >= 0 && r.doc_id < (1L << 53),
          s"videoNearDups: doc_id ${r.doc_id} does not pack into 53+10 bits")
        frameHashes(r.payload, framesPerVideo).iterator.zipWithIndex
          .map { case (h, i) => ((r.doc_id << 10) | i, h) }
      }
    }.toDF("id", "simhash")
    val pairs = Dedup.simhashPairs(hashed, maxDist)
      .select(shiftright(col("id_a"), 10).as("va"), col("id_a").bitwiseAND(lit(1023L)).as("fa"),
        shiftright(col("id_b"), 10).as("vb"), col("id_b").bitwiseAND(lit(1023L)).as("fb"))
      .filter(col("va") =!= col("vb"))
    // normalize pair order WITH each frame id following its video
    val swap = col("va") > col("vb")
    pairs.select(
        when(swap, col("vb")).otherwise(col("va")).as("id_a"),
        when(swap, col("fb")).otherwise(col("fa")).as("frame_a"),
        when(swap, col("va")).otherwise(col("vb")).as("id_b"),
        when(swap, col("fa")).otherwise(col("fb")).as("frame_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("frame_a")).as("ma"), countDistinct(col("frame_b")).as("mb"))
      .select(col("id_a"), col("id_b"), least(col("ma"), col("mb")).as("matching_frames"))
      .filter(col("matching_frames") >= minMatchingFrames)
  }
}

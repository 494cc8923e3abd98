package graft.multimodal

import graft.GraftQuery
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY.md §2C13): image/audio/video as opaque
  * `binary` payloads with typed metadata, plus decode /
  * feature-extract / resize / resample / frame-sample operators.
  *
  * ALL THREE paths are real as of round 9. IMAGE: genuine PNG files
  * decoded with `javax.imageio` (pure JVM, no native libs) into
  * width / height / channel count / per-channel mean+RMS, resized
  * with an exact nearest-neighbor kernel and re-encoded as PNG.
  * AUDIO (round 8): genuine RIFF/WAVE 16-bit signed PCM decoded
  * with `javax.sound.sampled.AudioSystem`, resampled with an exact
  * nearest-neighbor frame kernel and re-encoded as WAV. VIDEO
  * (round 9): genuine MJPEG-in-AVI — the same RIFF container
  * grammar as WAV, demuxed by [[AviCodec]]'s bounded chunk walk
  * into per-frame JPEGs that `javax.imageio`'s JPEG codec decodes;
  * frame-sampling is a lossless container rewrite (kept frames'
  * bytes carried over bit-exactly), resize decodes + nearest-
  * neighbor-resamples + re-encodes each frame. The GRAFTMM1
  * [[StubCodec]] survives only as the legacy/unknown-format
  * plumbing target. Dispatch is by payload magic bytes, not by the
  * `kind` column, so a mislabeled or corrupt row degrades the same
  * way a real pipeline's would.
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, nFrames: Int, sampleRate: Int)
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)

  /** One decoded-feature row per media. Spatial kinds fill
    * width/height; audio fills sample_rate/n_samples (n_frames is
    * the audio frame count — one frame = one sample per channel).
    * channel_means / channel_rms are the per-channel mean and RMS of
    * the decoded samples (0-255 raster samples for images, signed
    * 16-bit PCM samples for audio, unsigned body bytes for the video
    * stub). */
  final case class MediaFeatures(media_id: Long, kind: String, width: Int, height: Int,
                                 channels: Int, n_frames: Int, n_bytes: Long,
                                 sample_rate: Int, n_samples: Long,
                                 mean_byte: Double, channel_means: Seq[Double],
                                 channel_rms: Seq[Double])

  /** REAL image codec over `javax.imageio` — PNG in, PNG out.
    * Deterministic end to end: the synthetic raster is a fixed
    * function of (id, x, y, channel), PNG is lossless, and the
    * resize kernel is exact nearest-neighbor (floor(dst*src/size)),
    * so every decoded sample is reproducible bit-for-bit across
    * JVMs and partitionings. */
  object PngCodec {
    def isPng(payload: Array[Byte]): Boolean =
      payload.length >= 8 && (payload(0) & 0xff) == 0x89 &&
        payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G'

    /** Dimension bound enforced BEFORE handing bytes to ImageIO: a
      * crafted IHDR declaring a 2^31-pixel image would otherwise make
      * the decoder attempt the allocation (or throw a non-IO error)
      * and kill the task — at crawl scale corrupt-but-PNG-magic
      * payloads are ordinary input, and the contract is "dropped,
      * never crashed on" (VERDICT r7 item 2). 2^26 px = a 8192x8192
      * RGBA at ~256 MB decoded, far above any thumbnail pipeline. */
    val MaxPixels: Long = 1L << 26

    /** Width/height a PNG payload DECLARES in its IHDR (bytes 16-23,
      * big-endian, immediately after the 8-byte signature + 4-byte
      * length + "IHDR" type). None if the payload is too short to
      * carry a header. */
    private[graft] def declaredDims(payload: Array[Byte]): Option[(Long, Long)] =
      if (payload.length < 24) None
      else {
        def be32(off: Int): Long =
          ((payload(off) & 0xffL) << 24) | ((payload(off + 1) & 0xffL) << 16) |
            ((payload(off + 2) & 0xffL) << 8) | (payload(off + 3) & 0xffL)
        Some((be32(16), be32(20)))
      }

    /** Deterministic synthetic RGB image, seeded by id. */
    def syntheticImage(id: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var c = 0
          while (c < 3) {
            raster.setSample(x, y, c, ((id * 31 + x * 7 + y * 13 + c * 41) % 256).toInt)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      img
    }

    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Real decode: (width, height, bands, per-band mean, per-band
      * RMS of the 0-255 samples), or None for bytes ImageIO cannot
      * parse. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Int, Array[Double], Array[Double])] =
      decodeImage(payload).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val bands = raster.getNumBands
        val sums = new Array[Long](bands)
        val sqSums = new Array[Long](bands)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var c = 0
            while (c < bands) {
              val s = raster.getSample(x, y, c)
              sums(c) += s; sqSums(c) += s.toLong * s; c += 1
            }
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        (w, h, bands, sums.map(_.toDouble / n), sqSums.map(q => math.sqrt(q.toDouble / n)))
      }

    /** NonFatal, not just IOException: ImageIO.read can throw
      * IllegalArgumentException / ArrayIndexOutOfBoundsException on
      * adversarial or truncated payloads — any of those must mean
      * "drop the row", not "kill the task". Declared dimensions are
      * bounded BEFORE the decoder runs (see [[MaxPixels]]). */
    def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      declaredDims(payload) match {
        // overflow-proof bound: w <= MaxPixels / h instead of
        // w * h <= MaxPixels — dims near 2^32 would wrap w*h
        // negative and sail under a product-form cap
        case Some((w, h)) if w > 0 && h > 0 && w <= MaxPixels / h =>
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }

    /** Exact nearest-neighbor resize: dst(x,y,c) =
      * src(floor(x*sw/dw), floor(y*sh/dh), c). A hand-rolled kernel
      * instead of Graphics2D so the sample mapping is a pinned
      * deterministic contract, not an AWT rendering-hint choice. */
    def resizeNearest(src: java.awt.image.BufferedImage, dw: Int, dh: Int): java.awt.image.BufferedImage = {
      val (sw, sh) = (src.getWidth, src.getHeight)
      val bands = src.getRaster.getNumBands
      val dst = new java.awt.image.BufferedImage(dw, dh,
        if (bands >= 3) java.awt.image.BufferedImage.TYPE_3BYTE_BGR
        else java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val sr = src.getRaster
      val dr = dst.getRaster
      val db = dst.getRaster.getNumBands
      var y = 0
      while (y < dh) {
        val sy = (y.toLong * sh / dh).toInt
        var x = 0
        while (x < dw) {
          val sx = (x.toLong * sw / dw).toInt
          var c = 0
          while (c < db) { dr.setSample(x, y, c, sr.getSample(sx, sy, c min (bands - 1))); c += 1 }
          x += 1
        }
        y += 1
      }
      dst
    }
  }

  /** REAL audio codec over `javax.sound.sampled` — RIFF/WAVE 16-bit
    * signed little-endian PCM in, same format out. Pure JVM
    * (AudioSystem's WAVE reader/writer ships with the JDK), so the
    * decode is genuine container+format parsing, not a stub; and
    * PCM is lossless, so synthetic waveforms round-trip bit-exactly
    * (same determinism contract as [[PngCodec]]). Non-PCM or
    * non-16-bit WAV (e.g. a-law) is treated as undecodable here —
    * a None, i.e. a dropped row, never a crash. */
  object WavCodec {
    def isWav(payload: Array[Byte]): Boolean =
      payload.length >= 12 &&
        payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
        payload(8) == 'W' && payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E'

    /** Frame bound, same rationale as PngCodec.MaxPixels: a crafted
      * header declaring hours of audio must not drive a giant
      * allocation. 2^26 frames = ~70 min at 16 kHz. */
    val MaxFrames: Long = 1L << 26

    /** Deterministic synthetic waveform, seeded by id: sample(t, c) =
      * ((id*31 + t*7 + c*41) mod 65536) - 32768 — full 16-bit range,
      * a fixed function of (id, frame, channel) like the image
      * raster. Layout is frame-interleaved ([t0c0, t0c1, t1c0, ...]),
      * the PCM wire order. */
    def syntheticSamples(id: Long, frames: Int, channels: Int): Array[Short] = {
      val out = new Array[Short](frames * channels)
      var t = 0
      while (t < frames) {
        var c = 0
        while (c < channels) {
          out(t * channels + c) = (((id * 31 + t * 7 + c * 41) % 65536) - 32768).toShort
          c += 1
        }
        t += 1
      }
      out
    }

    /** Interleaved 16-bit samples → RIFF/WAVE bytes via
      * AudioSystem.write (the JDK's own WAVE muxer). */
    def encode(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) { // little-endian per the format below
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, channels, true, false)
      val stream = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong / channels)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        stream, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Real decode: (sampleRate, channels, frames, interleaved
      * samples), or None for anything AudioSystem cannot parse as
      * 16-bit signed PCM within [[MaxFrames]]. NonFatal catch for
      * the same reason as PngCodec.decodeImage — adversarial bytes
      * with a valid RIFF magic are dropped, not thrown on. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Int, Array[Short])] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = in.getFormat
          val frames = in.getFrameLength
          // sampleRate > 0: the JDK's WAVE reader does not reject a
          // fmt chunk declaring rate 0, and a zero rate would divide
          // downstream (resampleAudio) — garbage header, drop the row
          val ok = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
            fmt.getChannels > 0 && fmt.getSampleRate > 0 &&
            frames >= 0 && frames <= MaxFrames
          if (!ok) None
          else {
            val channels = fmt.getChannels
            val pcm = in.readAllBytes()
            val n = pcm.length / 2
            val samples = new Array[Short](n)
            var i = 0
            while (i < n) {
              samples(i) = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort
              i += 1
            }
            Some((math.round(fmt.getSampleRate), channels, n / channels, samples))
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Exact nearest-neighbor resample in the FRAME domain:
      * dst frame i = src frame floor(i*srcFrames/dstFrames), all
      * channels — the 1-D twin of PngCodec.resizeNearest, and the
      * same pinned deterministic contract. */
    def resampleNearest(samples: Array[Short], channels: Int,
                        srcFrames: Int, dstFrames: Int): Array[Short] = {
      val out = new Array[Short](dstFrames * channels)
      var i = 0
      while (i < dstFrames) {
        val si = (i.toLong * srcFrames / dstFrames).toInt
        var c = 0
        while (c < channels) { out(i * channels + c) = samples(si * channels + c); c += 1 }
        i += 1
      }
      out
    }

    /** Per-channel (mean, rms) over interleaved samples. */
    def channelStats(samples: Array[Short], channels: Int): (Array[Double], Array[Double]) = {
      val sums = new Array[Double](channels)
      val sqSums = new Array[Double](channels)
      var i = 0
      while (i < samples.length) {
        val c = i % channels
        val s = samples(i).toDouble
        sums(c) += s; sqSums(c) += s * s
        i += 1
      }
      val perCh = if (channels == 0) 0 else samples.length / channels
      val n = math.max(1, perCh).toDouble
      (sums.map(_ / n), sqSums.map(q => math.sqrt(q / n)))
    }
  }

  /** REAL video codec — MJPEG-in-AVI (round 9). AVI is the same
    * RIFF container grammar the WAV path already exercises (the
    * "JVM has no video codec" stub justification held only for
    * predictive codecs like H.264 — an MJPEG stream is a chunk list
    * of ordinary JPEGs, and `javax.imageio` ships a JPEG codec).
    * The muxer writes a spec-shaped file: LIST hdrl (avih main
    * header + LIST strl with a 'vids'/'MJPG' strh + BITMAPINFOHEADER
    * strf), LIST movi with one '00dc' chunk per frame (even-padded,
    * per RIFF), and an idx1 index. The demuxer is a bounded
    * tolerant chunk walk: sizes are clamped to the payload, corrupt
    * structure means None (a dropped row), never a crash — and the
    * container parse is LOSSLESS on the frame bytes (bit-exact
    * mux→demux round-trip, pinned in MultimodalSpec), so
    * frame-sampling rewrites never re-encode. Per-frame JPEG decode
    * is bounded by a pre-decode SOF dimension scan, the same
    * dimension-bomb discipline as [[PngCodec.declaredDims]]. */
  object AviCodec {
    def isAvi(payload: Array[Byte]): Boolean =
      payload.length >= 12 &&
        payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
        payload(8) == 'A' && payload(9) == 'V' && payload(10) == 'I' && payload(11) == ' '

    /** Frame-count bound, the clip-level twin of PngCodec.MaxPixels:
      * a crafted chunk list must not drive an unbounded frame
      * vector. 2^16 frames = ~36 min at 30 fps. (Memory is bounded
      * by the payload either way — frames are slices of it — this
      * bounds downstream per-frame work.) */
    val MaxClipFrames: Int = 1 << 16

    /** At most this many frames are JPEG-decoded per clip by the
      * feature extractor — the frame-sample step: every k-th frame
      * with k = ceil(n/MaxDecodedFrames), deterministic. */
    val MaxDecodedFrames: Int = 32

    /** Deterministic MJPEG-AVI bytes: fps as dwRate/dwScale=fps/1,
      * one '00dc' chunk per frame, idx1 offsets relative to the
      * 'movi' fourcc per the common AVI convention. */
    def encode(width: Int, height: Int, fps: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff); bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
      def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
      def fcc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
      val n = frames.length
      val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
      val moviChunks = frames.map(f => 8 + f.length + (f.length & 1)).sum
      val hdrlList = 200 // 8 + 4 + (8+56 avih) + (8 + 4 + (8+56 strh) + (8+40 strf))
      val idx1Chunk = 8 + 16 * n
      val riffSize = 4 + hdrlList + (8 + 4 + moviChunks) + idx1Chunk
      fcc("RIFF"); w32(riffSize); fcc("AVI ")
      fcc("LIST"); w32(192); fcc("hdrl")
      fcc("avih"); w32(56)
      w32(if (fps > 0) 1000000 / fps else 0) // dwMicroSecPerFrame
      w32(0); w32(0); w32(0x10)              // maxBytesPerSec, padding, AVIF_HASINDEX
      w32(n); w32(0); w32(1); w32(maxFrame)  // totalFrames, initialFrames, streams, sugBufSize
      w32(width); w32(height)
      w32(0); w32(0); w32(0); w32(0)         // dwReserved[4]
      fcc("LIST"); w32(116); fcc("strl")
      fcc("strh"); w32(56)
      fcc("vids"); fcc("MJPG"); w32(0); w16(0); w16(0); w32(0) // flags, prio, lang, initFrames
      w32(1); w32(math.max(1, fps))          // dwScale, dwRate → fps
      w32(0); w32(n); w32(maxFrame); w32(-1); w32(0) // start, length, sugBufSize, quality, sampleSize
      w16(0); w16(0); w16(width); w16(height) // rcFrame
      fcc("strf"); w32(40)
      w32(40); w32(width); w32(height); w16(1); w16(24) // biSize..biBitCount
      fcc("MJPG"); w32(width * height * 3)
      w32(0); w32(0); w32(0); w32(0)
      fcc("LIST"); w32(4 + moviChunks); fcc("movi")
      val offsets = new Array[Int](n)
      var pos = 4 // first chunk fourcc sits 4 bytes after 'movi'
      var i = 0
      while (i < n) {
        val f = frames(i)
        offsets(i) = pos
        fcc("00dc"); w32(f.length); bos.write(f)
        if ((f.length & 1) == 1) bos.write(0)
        pos += 8 + f.length + (f.length & 1)
        i += 1
      }
      fcc("idx1"); w32(16 * n)
      i = 0
      while (i < n) { fcc("00dc"); w32(0x10); w32(offsets(i)); w32(frames(i).length); i += 1 }
      bos.toByteArray
    }

    /** Real demux: (width, height, fps, frame byte arrays) from the
      * container, or None for anything that does not walk as a
      * RIFF/AVI within bounds. Dimensions come from avih and are
      * bounded before any frame decode; fps from strh dwRate/dwScale
      * with the avih microsec-per-frame fallback. The walk clamps
      * every declared size to the payload, recurses only into LIST
      * chunks (depth-bounded), and collects '##dc'/'##db' stream
      * chunks inside movi — frame BYTES are returned verbatim. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Double, Vector[Array[Byte]])] =
      try {
        if (!isAvi(payload)) return None
        var width = 0; var height = 0; var microSec = 0L; var scale = 0L; var rate = 0L
        val frames = Vector.newBuilder[Array[Byte]]
        var frameCount = 0
        def u32(off: Int): Long =
          (payload(off) & 0xffL) | ((payload(off + 1) & 0xffL) << 8) |
            ((payload(off + 2) & 0xffL) << 16) | ((payload(off + 3) & 0xffL) << 24)
        def fourcc(off: Int): String = new String(payload, off, 4, "US-ASCII")
        def walk(start: Int, end: Int, inMovi: Boolean, depth: Int): Unit = {
          var off = start
          while (off + 8 <= end && frameCount <= MaxClipFrames) {
            val id = fourcc(off)
            val sz = u32(off + 4)
            val dataStart = off + 8
            if (sz > end - dataStart) return // lying size: stop this level
            val dataEnd = dataStart + sz.toInt
            id match {
              case "LIST" if depth < 8 && sz >= 4 =>
                val lt = fourcc(dataStart)
                walk(dataStart + 4, dataEnd, inMovi || lt == "movi", depth + 1)
              case "avih" if sz >= 56 =>
                microSec = u32(dataStart); width = u32(dataStart + 32).toInt
                height = u32(dataStart + 36).toInt
              case "strh" if sz >= 56 && fourcc(dataStart) == "vids" =>
                scale = u32(dataStart + 20); rate = u32(dataStart + 24)
              case c if inMovi && c.length == 4 && c(0).isDigit && c(1).isDigit &&
                c(2) == 'd' && (c(3) == 'c' || c(3) == 'b') =>
                frames += java.util.Arrays.copyOfRange(payload, dataStart, dataEnd)
                frameCount += 1
              case _ => () // unknown chunk: skip
            }
            off = dataEnd + (sz.toInt & 1) // RIFF even padding
          }
        }
        walk(12, payload.length, inMovi = false, depth = 0)
        val fps =
          if (scale > 0 && rate > 0) rate.toDouble / scale
          else if (microSec > 0) 1e6 / microSec
          else 0.0
        val fs = frames.result()
        // same overflow-proof division-form dimension bound as PNG
        if (width <= 0 || height <= 0 || width.toLong > PngCodec.MaxPixels / height ||
          fs.isEmpty || frameCount > MaxClipFrames) None
        else Some((width, height, fps, fs))
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Width/height a JPEG DECLARES in its SOF marker — scanned
      * before the decoder runs, the JPEG twin of
      * [[PngCodec.declaredDims]] (the container header cannot be
      * trusted to bound the frame: a crafted 00dc chunk carries
      * whatever dims its own SOF says). */
    private[graft] def jpegDims(jpeg: Array[Byte]): Option[(Int, Int)] = {
      if (jpeg.length < 4 || (jpeg(0) & 0xff) != 0xff || (jpeg(1) & 0xff) != 0xd8) return None
      var off = 2
      while (off + 2 <= jpeg.length) {
        if ((jpeg(off) & 0xff) != 0xff) return None
        var markerOff = off + 1
        while (markerOff < jpeg.length && (jpeg(markerOff) & 0xff) == 0xff) markerOff += 1 // fill bytes
        if (markerOff >= jpeg.length) return None
        val m = jpeg(markerOff) & 0xff
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) off = markerOff + 1
        else {
          if (markerOff + 2 >= jpeg.length) return None
          val len = ((jpeg(markerOff + 1) & 0xff) << 8) | (jpeg(markerOff + 2) & 0xff)
          if (len < 2) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (markerOff + 8 >= jpeg.length) return None
            val h = ((jpeg(markerOff + 4) & 0xff) << 8) | (jpeg(markerOff + 5) & 0xff)
            val w = ((jpeg(markerOff + 6) & 0xff) << 8) | (jpeg(markerOff + 7) & 0xff)
            return Some((w, h))
          }
          if (m == 0xda || m == 0xd9) return None // scan/EOI before any SOF
          off = markerOff + 1 + len
        }
      }
      None
    }

    /** Real per-frame decode via `javax.imageio`'s JPEG codec, dims
      * bounded first (division form, overflow-proof — JPEG dims max
      * 65535 but 65535² still overflows the MaxPixels budget). */
    def decodeJpeg(jpeg: Array[Byte]): Option[java.awt.image.BufferedImage] =
      jpegDims(jpeg) match {
        case Some((w, h)) if w > 0 && h > 0 && w.toLong <= PngCodec.MaxPixels / h =>
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg)))
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }

    def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    /** Deterministic synthetic clip: frame f's raster is the fixed
      * pixel function seeded by (id*131 + f*17) — every frame
      * distinct, every byte a pure function of (id, f, x, y, c). */
    def syntheticClip(id: Long, w: Int, h: Int, nFrames: Int, fps: Int): Array[Byte] =
      encode(w, h, fps,
        (0 until nFrames).map(f => encodeJpeg(PngCodec.syntheticImage(id * 131 + f * 17, w, h))))
  }

  /** STUB CODEC — the unknown-format plumbing stand-in (since round
    * 9 no production kind uses it: images are real PNG via
    * [[PngCodec]], audio real WAV via [[WavCodec]], video real
    * MJPEG-AVI via [[AviCodec]]). Kept as the corrupt/legacy-format
    * dispatch target so the "dropped, never crashed" path stays
    * exercised. Format: 8-byte magic "GRAFTMM1", then
    * width/height/nFrames as big-endian int32, then the raw payload
    * bytes. */
  object StubCodec {
    val Magic: Array[Byte] = "GRAFTMM1".getBytes("US-ASCII")
    val HeaderLen: Int = Magic.length + 12

    def encode(width: Int, height: Int, nFrames: Int, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(HeaderLen + body.length)
      bb.put(Magic).putInt(width).putInt(height).putInt(nFrames).put(body)
      bb.array()
    }

    /** (width, height, nFrames, body) or None for corrupt payloads. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      if (payload.length < HeaderLen) return None
      if (!payload.take(Magic.length).sameElements(Magic)) return None
      val bb = java.nio.ByteBuffer.wrap(payload, Magic.length, 12)
      val (w, h, f) = (bb.getInt, bb.getInt, bb.getInt)
      Some((w, h, f, payload.drop(HeaderLen)))
    }

    /** Deterministic synthetic media row (seeded by id). Images get
      * a REAL PNG payload, audio a REAL WAV payload, video a REAL
      * MJPEG-AVI payload (round 9 — meta.sampleRate carries fps). */
    def synthetic(id: Long): MediaRow = {
      val kind = (id % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
      val w = 16 + (id % 8).toInt; val h = 16 + (id % 5).toInt
      kind match {
        case "image" =>
          MediaRow(id, kind, PngCodec.encode(PngCodec.syntheticImage(id, w, h)),
            MediaMeta(w, h, 1, 0))
        case "audio" =>
          val frames = 300 + (id % 100).toInt
          val channels = 1 + (id % 2).toInt
          val rate = 8000 + (id % 3).toInt * 4000 // 8/12/16 kHz
          MediaRow(id, kind,
            WavCodec.encode(rate, channels, WavCodec.syntheticSamples(id, frames, channels)),
            MediaMeta(0, 0, frames, rate))
        case _ =>
          val frames = 8
          val fps = 10 + (id % 5).toInt
          MediaRow(id, kind, AviCodec.syntheticClip(id, w, h, frames, fps),
            MediaMeta(w, h, frames, fps))
      }
    }
  }

  /** Deterministic synthetic media table (the driver testdata has no
    * media column; payload generation is part of the operator's
    * contract). `partitions <= 0` sizes to the session's default
    * parallelism: the codec work downstream is the expensive part
    * (PNG/WAV/JPEG encode+decode per row), and the r20 profile showed
    * the old fixed 8 leaving 24 of 32 cores idle for the entry's
    * whole 1.6 s decode stage (guide §2.5 input-parallelism). Rows
    * are a pure function of the id, so the partition count cannot
    * change any value (spec-pinned partition-independence). */
  def syntheticMedia(spark: SparkSession, n: Int, partitions: Int = 0): Dataset[MediaRow] = {
    import spark.implicits._
    val p = if (partitions > 0) partitions
            else math.max(1, math.min(n, spark.sparkContext.defaultParallelism))
    spark.range(0, n, 1, p).map(r => StubCodec.synthetic(r))
  }

  /** Decode + feature-extract, one codec pass per PARTITION — the
    * shape a real decoder needs (codec init once per batch, then
    * streamed rows; the Scala twin of a pandas-batch UDF). PNG
    * payloads take the real `javax.imageio` path, WAV payloads the
    * real `javax.sound.sampled` path; stub-format payloads parse the
    * GRAFTMM1 header; anything else (corrupt) is dropped, never
    * crashed on. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        if (PngCodec.isPng(m.payload))
          PngCodec.decode(m.payload).map { case (w, h, bands, means, rms) =>
            MediaFeatures(m.media_id, m.kind, w, h, bands, 1, m.payload.length.toLong,
              0, 0L, means.sum / bands, means.toSeq, rms.toSeq)
          }
        else if (WavCodec.isWav(m.payload))
          WavCodec.decode(m.payload).map { case (rate, channels, frames, samples) =>
            val (means, rms) = WavCodec.channelStats(samples, channels)
            // mean_byte for audio: the overall mean sample mapped into
            // byte range ((s+32768)/256) — keeps the column comparable
            // across kinds without faking a raster
            val overallMean = if (samples.isEmpty) 0.0 else means.sum / channels
            MediaFeatures(m.media_id, m.kind, 0, 0, channels, frames, m.payload.length.toLong,
              rate, samples.length.toLong, (overallMean + 32768.0) / 256.0,
              means.toSeq, rms.toSeq)
          }
        else if (AviCodec.isAvi(m.payload))
          AviCodec.decode(m.payload).flatMap { case (w, h, fps, frames) =>
            // frame-sample: every k-th frame, k = ceil(n/MaxDecodedFrames)
            // — the per-clip decode cost is bounded no matter how long
            // the clip, and the sample is a deterministic function of n
            val step = math.max(1,
              (frames.length + AviCodec.MaxDecodedFrames - 1) / AviCodec.MaxDecodedFrames)
            val imgs = frames.indices.by(step).iterator
              .flatMap(i => AviCodec.decodeJpeg(frames(i))).toVector
            if (imgs.isEmpty) None // no decodable frame → corrupt row, drop
            else {
              val bands = imgs.head.getRaster.getNumBands
              val sums = new Array[Long](bands)
              val sqSums = new Array[Long](bands)
              var n = 0L
              imgs.foreach { img =>
                val raster = img.getRaster
                if (raster.getNumBands == bands) {
                  val (fw, fh) = (img.getWidth, img.getHeight)
                  var y = 0
                  while (y < fh) {
                    var x = 0
                    while (x < fw) {
                      var c = 0
                      while (c < bands) {
                        val s = raster.getSample(x, y, c)
                        sums(c) += s; sqSums(c) += s.toLong * s; c += 1
                      }
                      x += 1
                    }
                    y += 1
                  }
                  n += fw.toLong * fh
                }
              }
              val means = sums.map(_.toDouble / n)
              val rms = sqSums.map(q => math.sqrt(q.toDouble / n))
              // sample_rate carries fps for video; n_samples the decoded
              // raster sample count (frames-sampled × w × h × bands) —
              // the raster analog of audio's frames × channels
              Some(MediaFeatures(m.media_id, m.kind, w, h, bands, frames.length,
                m.payload.length.toLong, math.round(fps).toInt, n * bands,
                means.sum / bands, means.toSeq, rms.toSeq))
            }
          }
        else StubCodec.decode(m.payload).map { case (w, h, f, body) =>
          var sum = 0L; var sq = 0.0
          body.foreach { b => val u = b & 0xff; sum += u; sq += u.toDouble * u }
          val n = math.max(1, body.length).toDouble
          val mean = sum / n
          MediaFeatures(m.media_id, m.kind, w, h, 1, f, m.payload.length.toLong,
            0, 0L, mean, Seq(mean), Seq(math.sqrt(sq / n)))
        }
      }
    }
  }

  /** Resize. Images: REAL nearest-neighbor resample via [[PngCodec]]
    * (decode → exact kernel → PNG re-encode). Audio: REAL
    * nearest-neighbor FRAME resample via [[WavCodec]] to a target of
    * newW*newH frames — the 1-D meaning of "resize to (w,h)" —
    * re-encoded as WAV at the same sample rate. Video (stub):
    * deterministic body subsample (a real impl would interpolate).
    * Corrupt payloads pass through unchanged. */
  def resize(media: Dataset[MediaRow], newW: Int, newH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      if (PngCodec.isPng(m.payload))
        PngCodec.decodeImage(m.payload) match {
          case Some(img) =>
            m.copy(payload = PngCodec.encode(PngCodec.resizeNearest(img, newW, newH)),
              meta = m.meta.copy(width = newW, height = newH))
          case None => m
        }
      else if (WavCodec.isWav(m.payload))
        WavCodec.decode(m.payload) match {
          // frames > 0: a structurally valid WAV with an EMPTY data
          // chunk has nothing to resample from — pass it through
          // (resampleNearest would index samples(0))
          case Some((rate, channels, frames, samples)) if frames > 0 =>
            val dstFrames = math.max(1, newW * newH)
            m.copy(
              payload = WavCodec.encode(rate, channels,
                WavCodec.resampleNearest(samples, channels, frames, dstFrames)),
              meta = m.meta.copy(width = newW, height = newH, nFrames = dstFrames))
          case _ => m
        }
      else if (AviCodec.isAvi(m.payload))
        AviCodec.decode(m.payload) match {
          // every frame must decode for the rewrite to be faithful; a
          // clip with any undecodable frame passes through unchanged
          // (same corrupt-row contract as the other kinds)
          case Some((_, _, fps, frames)) =>
            val resized = frames.map(f =>
              AviCodec.decodeJpeg(f).map(img =>
                AviCodec.encodeJpeg(PngCodec.resizeNearest(img, newW, newH))))
            if (resized.forall(_.isDefined))
              m.copy(payload = AviCodec.encode(newW, newH, math.round(fps).toInt,
                resized.map(_.get)),
                meta = m.meta.copy(width = newW, height = newH))
            else m
          case None => m
        }
      else StubCodec.decode(m.payload) match {
        case Some((_, _, f, body)) =>
          val target = (newW * newH * f).min(body.length).max(0)
          val step = if (target == 0) 1 else (body.length.max(1) / target.max(1)).max(1)
          val resampled = body.indices.collect { case i if i % step == 0 => body(i) }.take(target).toArray
          m.copy(payload = StubCodec.encode(newW, newH, f, resampled),
            meta = m.meta.copy(width = newW, height = newH))
        case None => m
      }
    })
  }

  /** REAL audio resample to a new sample rate: dstFrames =
    * floor(srcFrames*newRate/srcRate), nearest-neighbor frame
    * mapping, re-encoded as WAV at `newRate`. Non-WAV payloads pass
    * through unchanged. */
  def resampleAudio(media: Dataset[MediaRow], newRate: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      if (!WavCodec.isWav(m.payload)) m
      else WavCodec.decode(m.payload) match {
        // frames > 0 for the same empty-data-chunk reason as resize;
        // rate > 0 is already guaranteed by decode's format check
        case Some((rate, channels, frames, samples)) if frames > 0 =>
          val dstFrames = math.max(1, (frames.toLong * newRate / rate).toInt)
          m.copy(
            payload = WavCodec.encode(newRate, channels,
              WavCodec.resampleNearest(samples, channels, frames, dstFrames)),
            meta = m.meta.copy(nFrames = dstFrames, sampleRate = newRate))
        case _ => m
      }
    })
  }

  /** REAL frame-sample: keep every k-th frame of a video payload.
    * For MJPEG-AVI this is a pure container rewrite — the demux is
    * lossless on frame bytes, so the kept frames' JPEGs are carried
    * over BIT-EXACTLY (no decode, no re-encode; exactly how a real
    * pipeline thins an MJPEG stream). The GRAFTMM1 stub branch
    * remains for legacy-format payloads. */
  def frameSample(media: Dataset[MediaRow], everyK: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      if (AviCodec.isAvi(m.payload))
        AviCodec.decode(m.payload) match {
          case Some((w, h, fps, frames)) if m.kind == "video" && frames.length > 1 =>
            val kept = frames.indices.by(everyK).map(frames).toVector
            m.copy(payload = AviCodec.encode(w, h, math.round(fps).toInt, kept),
              meta = m.meta.copy(nFrames = kept.length))
          case _ => m
        }
      else StubCodec.decode(m.payload) match {
        case Some((w, h, f, body)) if m.kind == "video" && f > 1 =>
          val frameLen = if (f == 0) 0 else body.length / f
          val kept = (0 until f by everyK)
          val newBody = kept.flatMap(i => body.slice(i * frameLen, (i + 1) * frameLen)).toArray
          m.copy(payload = StubCodec.encode(w, h, kept.length, newBody),
            meta = m.meta.copy(nFrames = kept.length))
        case _ => m
      }
    })
  }

  /** Where per-media decoded features are staged for the DuckDB
    * oracle — same lifecycle contract as SdfQueries.StagePath
    * (process-unique; must outlive this JVM for the driver's
    * post-exit oracle run; that file's creation-time GC already
    * bounds accumulation for both stage roots). */
  val FeatureStagePath: String =
    graft.sources.SdfQueries.StagePath.stripSuffix("records.parquet") + "media_features.parquet"

  private val MediaCount = 500

  // stage once per process: the features are a pure function of the
  // deterministic synthetic corpus (fixed MediaCount), so repeat
  // timed runs must not re-pay the decode+write (VERDICT r7 item 1)
  private def stageFeatures(spark: SparkSession): Unit =
    graft.StateCache.stage("Multimodal.features", MediaCount) {
      decodeFeatures(syntheticMedia(spark, MediaCount))
        .write.mode("overwrite").parquet(FeatureStagePath)
    }

  /** Driver entry: synthesize → decode → aggregate per kind. The
    * per-media features (the decode itself — PNG via javax.imageio,
    * WAV via javax.sound.sampled — which DuckDB cannot replicate)
    * are staged to parquet ONCE per process, and the oracle
    * re-aggregates them with DuckDB's own count/sum/avg — a
    * cross-engine check of the aggregation semantics on top of the
    * spec-pinned bit-exact decodes. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    stageFeatures(spark)
    // avg() over doubles sums in partition order — a last-ulp flake
    // channel vs DuckDB's serial sum that round(_, 6) only
    // probabilistically absorbs. Both engines instead compute
    // round(exact-decimal-sum / non-null-count, 6): the decimal sum
    // is order-independent, the double division and final round are
    // single deterministic steps — same avg semantics (count excludes
    // nulls), bit-identical cross-engine.
    def exactAvg(c: Column): Column =
      round(graft.Exact.dsum(c) / count(c), 6)
    decodeFeatures(syntheticMedia(spark, MediaCount))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("total_bytes"),
        sum(col("n_samples")).as("total_samples"),
        exactAvg(col("mean_byte")).as("avg_mean_byte"),
        exactAvg(element_at(col("channel_rms"), 1)).as("avg_rms_c0"))
      .orderBy(col("kind"))
  }

  private lazy val mediaFeaturesSql: String = {
    import graft.Exact.sql.sdsum
    s"""SELECT kind, count(*) AS n_media, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       |  CAST(sum(n_samples) AS BIGINT) AS total_samples,
       |  round(${sdsum("mean_byte")} / count(mean_byte), 6) AS avg_mean_byte,
       |  round(${sdsum("channel_rms[1]")} / count(channel_rms[1]), 6) AS avg_rms_c0
       |FROM read_parquet('$FeatureStagePath/*.parquet')
       |GROUP BY kind ORDER BY kind""".stripMargin
  }

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("multimodal_features", Some(mediaFeaturesSql), mediaFeatures))
}

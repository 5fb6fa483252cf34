package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` + typed metadata.
  *
  * The decode step is REAL for the two image containers the JDK ships
  * codecs for — PNG and JPEG via `javax.imageio.ImageIO`, see
  * [[ImageIoDecoder]] — and STUBBED only for payloads no JDK reader
  * recognizes (audio/video would need external codecs this container
  * doesn't have). Everything Spark-side is real and tested: binary
  * column handling, typed Encoders, per-partition decoder
  * initialization (`mapPartitions`, the Scala analogue of batched
  * `mapInPandas`), and the explode-to-frames shape a video pipeline
  * produces.
  */
object Multimodal {

  case class MediaIn(doc_id: Long, payload: Array[Byte])
  case class FrameFeature(doc_id: Long, frame_id: Int, feat_mean: Double, feat_dim: Int)

  /** Decoder contract: one instance per partition (codecs are expensive
    * to init and not serializable — same pattern as a GPU/FFI decoder). */
  trait MediaDecoder extends Serializable {
    def frames(m: MediaIn): Iterator[FrameFeature]
  }

  /** Deterministic stand-in for a codec the JVM doesn't have: "samples"
    * 1 + len%5 frames and emits an arithmetic feature. Kept as the
    * fallback tier of [[ImageIoDecoder]] and as the audio/video
    * stand-in. */
  object StubDecoder extends MediaDecoder {
    def frames(m: MediaIn): Iterator[FrameFeature] = {
      val n = 1 + (m.payload.length % 5)
      Iterator.tabulate(n)(i =>
        FrameFeature(m.doc_id, i, ((m.doc_id * 31 + i * 7) % 997).toDouble / 997.0, 64))
    }
  }

  /** REAL pixel decoder: PNG/JPEG payloads (recognized by magic, the
    * same magics m1's header parse keys on) are decoded with the JDK's
    * own ImageIO readers — no external codecs — and emit one frame with
    * the mean channel luminance over ALL real decoded pixels
    * (`sum(r+g+b) / (3·255·w·h)`, a single IEEE division of integer
    * sums, so a deterministic oracle can replay it exactly for lossless
    * planted PNGs) and `feat_dim` = pixel count. Anything ImageIO can't
    * read — wrong magic, truncated or corrupt image bytes — falls back
    * to [[StubDecoder]]: decode failure must degrade a row, never abort
    * a 100 TB job. One ImageIO call per payload, no shared state —
    * safe inside `mapPartitions` without per-partition init. */
  object ImageIoDecoder extends MediaDecoder {
    private def looksDecodable(b: Array[Byte]): Boolean =
      (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8)

    /** Decompression-bomb bound: a crafted header can declare e.g.
      * 30000×30000 (a ~3.6 GB BufferedImage from a few hundred payload
      * bytes) and the resulting OutOfMemoryError is an Error — it would
      * sail past a `catch Exception` fallback and kill the executor.
      * So dimensions are read from the HEADER ONLY (ImageReader
      * getWidth/getHeight decode no pixels) and anything above this
      * pixel cap degrades to the stub tier BEFORE any allocation. 64 M
      * pixels ≈ 256 MB ARGB — far above any sane planted/real payload,
      * far below executor-killing. */
    private val MaxPixels = 64L * 1024 * 1024

    private def headerDims(payload: Array[Byte]): Option[(Int, Int)] = {
      // the stream creation itself can throw (file-cache temp dir
      // unwritable) or return null (no SPI) — both must degrade to the
      // stub tier like every other failure, so it lives INSIDE the try
      var iis: javax.imageio.stream.ImageInputStream = null
      try {
        iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        if (iis == null) None
        else {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try { r.setInput(iis); Some((r.getWidth(0), r.getHeight(0))) }
            finally r.dispose()
          }
        }
      } catch { case _: Exception => None }
      // close() flushes the file-cache stream and can throw on its own
      finally if (iis != null) { try iis.close() catch { case _: Exception => () } }
    }

    /** Guarded decode shared by [[frames]] and the perceptual-hash path:
      * magic gate → header-dims bomb cap → ImageIO read; null on any
      * failure (the callers' stub-tier signal). */
    private[graft] def decodeSane(payload: Array[Byte]): java.awt.image.BufferedImage = {
      // cheap magic gate first: the overwhelmingly common case at scale
      // is a non-image payload, which must not pay an ImageIO attempt
      if (!looksDecodable(payload)) return null
      val sane = headerDims(payload).exists { case (w, h) =>
        w >= 1 && h >= 1 && w.toLong * h <= MaxPixels
      }
      if (!sane) null
      else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    }

    /** Integer luminance grid `[row][col] = (r+g+b)/3` of a decodable
      * payload — None degrades to the caller's stub tier. */
    private[graft] def decodeGray(payload: Array[Byte]): Option[Array[Array[Int]]] = {
      val img = decodeSane(payload)
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val g = Array.ofDim[Int](h, w)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            g(y)(x) = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
            x += 1
          }
          y += 1
        }
        Some(g)
      }
    }

    def frames(m: MediaIn): Iterator[FrameFeature] = {
      val img = decodeSane(m.payload)
      if (img == null) StubDecoder.frames(m)
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        Iterator.single(FrameFeature(m.doc_id, 0,
          sum.toDouble / (765.0 * w * h), w * h))
      }
    }
  }

  /** REAL audio decoder for the one format that needs no codec at all:
    * PCM WAV (RIFF) — the samples ARE the bytes. A real chunk walk
    * finds `fmt ` and `data` wherever they sit (LIST/fact/cue chunks
    * skipped), and 8- or 16-bit PCM at any channel count decodes to
    * fixed 32-step frames whose feature is the mean absolute deviation
    * of the channel-mean sample (integer sums → one IEEE division,
    * oracle-replayable like the PNG gradient); `feat_dim` = time steps
    * in the frame. Anything else falls back to [[StubDecoder]] — same
    * degrade-don't-abort contract as the image path. */
  object WavPcmDecoder extends MediaDecoder {
    val FrameLen = 32

    /** Proper RIFF chunk walk (the m7 box-walk idiom brought to the
      * audio tier): chunks are (fourcc, LE size, data, even-pad) from
      * offset 12; `fmt ` and `data` may sit anywhere among LIST/fact/
      * cue chunks, so the walk skips unknown chunks instead of assuming
      * the canonical 44-byte layout. Accepts 8- and 16-bit PCM, any
      * channel count: the per-time-step feature folds channels by
      * SUMMING them (Σ_ch s) and normalizing by mid·nch — exactly the
      * channel MEAN's deviation, kept in integer arithmetic so the
      * planted-sample oracle replays it with one IEEE division. The
      * 8-bit mono result is bit-identical to the old fixed-offset
      * path's. Hop cap + size guards end the walk on corrupt sizes —
      * degrade-don't-abort, as everywhere in this tier. */
    def frames(m: MediaIn): Iterator[FrameFeature] = {
      val b = m.payload
      def le(off: Int, n: Int): Long = {
        var v = 0L
        var i = n - 1
        while (i >= 0) { v = (v << 8) | (b(off + i) & 0xFF); i -= 1 }
        v
      }
      if (b.length < 12 ||
          b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
          b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
        return StubDecoder.frames(m)
      var pos = 12
      var fmtTag = -1L; var nch = 0; var bits = 0
      var dataOff = -1; var dataLen = 0
      var hops = 0
      while (pos + 8 <= b.length && (fmtTag < 0 || dataOff < 0) && hops < 16) {
        val sz = le(pos + 4, 4)
        if (sz < 0 || sz > b.length) { pos = b.length }
        else {
          if (b(pos) == 'f' && b(pos + 1) == 'm' && b(pos + 2) == 't' &&
              b(pos + 3) == ' ' && sz >= 16 && pos + 8 + 16 <= b.length) {
            fmtTag = le(pos + 8, 2)
            nch = le(pos + 10, 2).toInt
            bits = le(pos + 22, 2).toInt
          } else if (b(pos) == 'd' && b(pos + 1) == 'a' &&
                     b(pos + 2) == 't' && b(pos + 3) == 'a') {
            dataOff = pos + 8
            dataLen = sz.toInt
          }
          pos += 8 + sz.toInt + (sz.toInt & 1) // chunks pad to even
        }
        hops += 1
      }
      val bytesPer = bits / 8
      val block = nch * bytesPer
      val ok = fmtTag == 1 && nch >= 1 && (bits == 8 || bits == 16) &&
        dataOff >= 0 && dataLen >= block && block >= 1 &&
        dataOff + dataLen <= b.length && dataLen % block == 0
      if (!ok) StubDecoder.frames(m)
      else {
        val steps = dataLen / block
        val mid = if (bits == 8) 128L else 32768L
        val nFrames = (steps + FrameLen - 1) / FrameLen
        Iterator.tabulate(nFrames) { f =>
          val start = f * FrameLen
          val len = math.min(FrameLen, steps - start)
          var sum = 0L
          var t = 0
          while (t < len) {
            val base = dataOff + (start + t) * block
            var acc = 0L
            var c = 0
            while (c < nch) {
              val v =
                if (bits == 8) (b(base + c) & 0xFF) - 128
                else (b(base + c * 2) & 0xFF) | (b(base + c * 2 + 1).toInt << 8)
              acc += v
              c += 1
            }
            sum += math.abs(acc)
            t += 1
          }
          FrameFeature(m.doc_id, f, sum.toDouble / (mid.toDouble * nch * len), len)
        }
      }
    }
  }

  /** Production default: route by container magic — RIFF/WAVE to the
    * PCM decoder, PNG/JPEG to ImageIO, everything else to the stub
    * (video would need external codecs this container doesn't have).
    * Both real tiers re-check their own invariants and degrade to stub
    * themselves, so routing only needs the cheap magic probe. */
  object AutoDecoder extends MediaDecoder {
    private def isRiff(b: Array[Byte]): Boolean =
      b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

    def frames(m: MediaIn): Iterator[FrameFeature] =
      if (isRiff(m.payload)) WavPcmDecoder.frames(m)
      else ImageIoDecoder.frames(m)
  }

  /** Deterministic planted image payloads for the oracle gate: the
    * synthetic corpus is text bytes (never a real image), so — the same
    * planted-data idiom as the t12 PII gate — every `every`-th doc_id
    * gets a real PNG whose gray gradient is a pure function of doc_id:
    * `w = 4 + id%5`, `h = 3 + id%4`, `gray(x,y) = (id·31+x·7+y·13)%256`.
    * PNG is lossless, so the decoded mean luminance equals the gradient
    * mean, which DuckDB replays with generate_series — the REAL decode
    * path gets a full hash oracle. (JPEG decode is real too but lossy,
    * so it is spec-gated with a tolerance, not oracle-gated.) */
  object PlantedImages {
    val Every = 16

    def craftedPng(docId: Long): Array[Byte] = {
      val w = 4 + (docId % 5).toInt
      val h = 3 + (docId % 4).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = ((docId * 31 + x * 7 + y * 13) % 256).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
  }

  /** Documents with planted real-PNG payloads on every `every`-th
    * doc_id (text bytes otherwise — identical to `cast(text as binary)`,
    * both UTF-8). Typed map: payload synthesis is per-row JVM work just
    * like the decode step that follows it. */
  def plantedMedia(spark: SparkSession, documents: DataFrame,
                   every: Int = PlantedImages.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedImages.craftedPng(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Deterministic planted REAL WAV payloads (m5/m6's gate): every
    * `every`-th doc_id gets a canonical-layout 8-bit PCM mono WAV whose
    * samples are a pure function of doc_id — `rate = 8000 + (id%4)·4000`,
    * `nSamples = 64 + id%64`, `sample(i) = (id·7 + i·13) % 256` — so
    * both the header fields and the decoded frame features replay
    * exactly in DuckDB (PCM is lossless by construction). */
  object PlantedWavs {
    val Every = 8

    /** Signed 16-bit sample as a pure function of (doc, time step,
      * channel) — the oracle replays it via generate_series. */
    def sample16(docId: Long, i: Int, ch: Int): Int =
      ((docId * 31 + i * 17 + ch * 7919) % 65536 - 32768).toInt

    /** Two planted layouts, split on doc_id % 16: the canonical
      * 44-byte 8-bit mono file (id % 16 == 8 — the legacy fixed-offset
      * shape, still a valid chunk sequence) and a GENERALIZED file
      * (id % 16 == 0): 16-bit stereo PCM with a variable-length
      * LIST/INFO chunk between fmt and data — real-world WAVs carry
      * exactly such extra chunks, and a fixed-offset parser misreads
      * this layout, so it pins the chunk walk. */
    def craftedWav(docId: Long): Array[Byte] =
      if (docId % 16 == 0) crafted16Stereo(docId) else crafted8Mono(docId)

    private def crafted8Mono(docId: Long): Array[Byte] = {
      val rate = (8000 + (docId % 4) * 4000).toInt
      val nSamples = (64 + docId % 64).toInt
      val out = java.nio.ByteBuffer.allocate(44 + nSamples)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + nSamples)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1)                 // PCM, mono
        .putInt(rate).putInt(rate)               // byteRate = rate·1·1
        .putShort(1).putShort(8)                 // blockAlign, bits
        .put("data".getBytes("US-ASCII")).putInt(nSamples)
      var i = 0
      while (i < nSamples) {
        out.put(((docId * 7 + i * 13) % 256).toByte)
        i += 1
      }
      out.array()
    }

    private def crafted16Stereo(docId: Long): Array[Byte] = {
      val k = docId / 16
      val rate = (8000 + (k % 4) * 4000).toInt
      val n = (40 + k % 37).toInt        // sample frames (time steps)
      val listPad = (2 * (k % 6)).toInt  // even pad after "INFO"
      val dataLen = n * 4                // 2 ch × 2 bytes
      val riffLen = 4 + (8 + 16) + (8 + 4 + listPad) + (8 + dataLen)
      val out = java.nio.ByteBuffer.allocate(8 + riffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(2)                 // PCM, stereo
        .putInt(rate).putInt(rate * 4)           // byteRate = rate·2·2
        .putShort(4).putShort(16)                // blockAlign, bits
        .put("LIST".getBytes("US-ASCII")).putInt(4 + listPad)
        .put("INFO".getBytes("US-ASCII"))
      var j = 0
      while (j < listPad) { out.put(0x20.toByte); j += 1 }
      out.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < n) {
        out.putShort(sample16(docId, i, 0).toShort)
        out.putShort(sample16(docId, i, 1).toShort)
        i += 1
      }
      out.array()
    }
  }

  /** Deterministic planted AVI payloads for m25's gate — the RIFF
    * container's VIDEO form (the third RIFF form beside WAVE m5 and
    * WEBP m18): every `every`-th doc gets a minimal valid AVI whose
    * `avih` main-header fields are pure functions of doc_id, so the
    * oracle replays them from the plant formula. Layout exercises a
    * REAL top-level walk: id%16==0 inserts a variable-length JUNK
    * chunk (pad = id%32, even) BEFORE `LIST hdrl`, so a fixed-offset
    * reader misparses; the movi list tail varies too. */
  object PlantedAvis {
    val Every = 8

    def craftedAvi(docId: Long): Array[Byte] = {
      val usf = (33333 + (docId % 5) * 8333).toInt
      val frames = (100 + docId % 400).toInt
      val streams = (1 + docId % 2).toInt
      val w = (320 + (docId % 4) * 160).toInt
      val h = (240 + (docId % 4) * 120).toInt
      val junkPad = if (docId % 16 == 0) (2 * ((docId / 16) % 12 + 1)).toInt else 0
      val moviPad = (2 * (docId % 8)).toInt
      val hdrlSz = 4 + 8 + 56              // "hdrl" + avih chunk
      val moviSz = 4 + 8 + moviPad         // "movi" + one 00dc chunk
      val junkBytes = if (junkPad > 0) 8 + junkPad else 0
      val riffLen = 4 + junkBytes + (8 + hdrlSz) + (8 + moviSz)
      val out = java.nio.ByteBuffer.allocate(8 + riffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
        .put("AVI ".getBytes("US-ASCII"))
      if (junkPad > 0) {
        out.put("JUNK".getBytes("US-ASCII")).putInt(junkPad)
        var j = 0
        while (j < junkPad) { out.put(0.toByte); j += 1 }
      }
      out.put("LIST".getBytes("US-ASCII")).putInt(hdrlSz)
        .put("hdrl".getBytes("US-ASCII"))
        .put("avih".getBytes("US-ASCII")).putInt(56)
        .putInt(usf).putInt(0).putInt(0).putInt(0x10)  // usf, maxBps, pad, flags
        .putInt(frames).putInt(0).putInt(streams).putInt(0)
        .putInt(w).putInt(h)
        .putInt(0).putInt(0).putInt(0).putInt(0)       // dwReserved[4]
      out.put("LIST".getBytes("US-ASCII")).putInt(moviSz)
        .put("movi".getBytes("US-ASCII"))
        .put("00dc".getBytes("US-ASCII")).putInt(moviPad)
      var i = 0
      while (i < moviPad) { out.put(((docId + i) % 256).toByte); i += 1 }
      out.array()
    }
  }

  def plantedAviMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedAvis.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedAvis.craftedAvi(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL AVI (RIFF video container) metadata from the binary payload —
    * the m5 chunk walk pointed at the third RIFF form: after the
    * RIFF/`AVI ` magic, top-level chunks are walked (fourcc, LE size,
    * even pad) to the `LIST` whose form is `hdrl`; the AVI spec pins
    * `avih` as hdrl's FIRST chunk, so the main header's little-endian
    * fields (µs/frame, total frames, stream count, width, height) read
    * at fixed offsets from the FOUND list — never from a fixed file
    * offset (the planted JUNK layout breaks fixed-offset readers).
    * `complete` requires sane values (µs/frame ≥ 1 so the duration
    * division cannot ANSI-throw); anything else falls back to
    * deterministic synthetic metadata, the house multimodal contract.
    * Pure column exprs, map-only — the 100 TB shape. */
  def aviMeta(media: DataFrame, maxChunks: Int = 6): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isAvi = hex(p.substr(lit(1), lit(4))) === "52494646" &&
      hex(p.substr(lit(9), lit(4))) === "41564920"
    var df = media
      .withColumn("_cur0", when(isAvi, lit(13L)))
      .withColumn("_hdr0", lit(null).cast("long"))
    for (i <- 1 to maxChunks) {
      val cur = col(s"_cur${i - 1}")
      val cid = hex(p.substr(cur, lit(4)))
      val sz = leUintAt(p, cur + 4, 4)
      val form = hex(p.substr(cur + 8, lit(4)))
      df = df
        .withColumn(s"_hdr$i",
          coalesce(col(s"_hdr${i - 1}"),
            when(cid === "4C495354" && form === "6864726C", cur + 12)))
        .withColumn(s"_cur$i",
          when(col(s"_hdr$i").isNotNull, cur)
            .otherwise(when(coalesce(sz >= 0, lit(false)), {
              // range-gated hop: untrusted size — see wavMeta
              val nxt = cur + 8 + sz + pmod(sz, lit(2))
              when(nxt + 7 <= len, nxt)
            })))
    }
    val hdrl = col(s"_hdr$maxChunks")
    // the avih chunk is hdrl's first child by spec; verify its fourcc
    val avihOff = when(hex(p.substr(hdrl, lit(4))) === "61766968", hdrl + 8)
    val staged = df
      .withColumn("_usf", leUintAt(p, avihOff, 4))
      .withColumn("_frames", leUintAt(p, avihOff + 16, 4))
      .withColumn("_streams", leUintAt(p, avihOff + 24, 4))
      .withColumn("_w", leUintAt(p, avihOff + 32, 4))
      .withColumn("_h", leUintAt(p, avihOff + 36, 4))
    // upper bounds are part of `complete`, not cosmetics: a hostile
    // avih with usf = frames = 0xFFFFFFFF passes the ≥1 checks and the
    // duration PRODUCT overflows Long under ANSI — the crafted-field
    // class the adversarial spec attacks. 1e8 µs/frame × 1e9 frames
    // caps the product at 1e17 < 2^63.
    val complete = coalesce(isAvi, lit(false)) &&
      coalesce(col("_usf").between(1, 100000000L) &&
        col("_frames").between(1, 1000000000L) &&
        col("_streams").between(1, 1024) &&
        col("_w").between(1, 65536) && col("_h").between(1, 65536), lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_avi"),
      when(complete, col("_usf").cast("int"))
        .otherwise((lit(33333) + pmod(len, lit(777))).cast("int")).as("us_per_frame"),
      when(complete, col("_frames").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(100))).cast("int")).as("n_frames"),
      when(complete, col("_streams").cast("int")).otherwise(lit(1)).as("n_streams"),
      when(complete, col("_w").cast("int")).otherwise(lit(320)).as("width"),
      when(complete, col("_h").cast("int")).otherwise(lit(240)).as("height"),
      when(complete, expr("(_usf * _frames) div 1000"))
        .otherwise(pmod(len * 17, lit(20000)).cast("long")).as("duration_ms"))
  }

  /** The m25 gate: AVI main-header metadata over the planted corpus. */
  def aviMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedAvis.Every): DataFrame =
    aviMeta(plantedAviMedia(spark, documents, every).toDF())

  /** Deterministic planted ICO payloads for m26's gate: every
    * `every`-th doc gets a valid multi-image Windows icon whose
    * directory fields are pure functions of doc_id — 1..3 entries,
    * first entry dimensions cycling through the icon sizes INCLUDING
    * the 256-pixel case that ICO encodes as a ZERO byte (the format's
    * one trap — a parser that reads the byte raw reports 0px). */
  object PlantedIcos {
    val Every = 8

    def craftedIco(docId: Long): Array[Byte] = {
      val n = (1 + docId % 3).toInt
      val dims = Array(16, 32, 48, 256)
      val w0 = dims(((docId / 8) % 4).toInt)
      // (docId/16)%4, NOT (docId/4)%4: planted ids are ≡ 0 (mod 8), so
      // a /4 selector is always even and only ever picked bpp ∈ {1, 8}
      // — a parser bug visible only at 4 or 32 could never be caught
      // (r14 review); /16 walks all four values across the plant set
      val bpp = Array(1, 4, 8, 32)(((docId / 16) % 4).toInt)
      val imgBytes = (8 + docId % 24).toInt    // tiny fake bitmap payloads
      val out = java.nio.ByteBuffer.allocate(6 + 16 * n + imgBytes * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.putShort(0).putShort(1).putShort(n.toShort)
      var off = 6 + 16 * n
      var i = 0
      while (i < n) {
        val w = if (i == 0) w0 else dims(i % 4)
        out.put((if (w == 256) 0 else w).toByte)   // 256 → 0, the ICO rule
          .put((if (w == 256) 0 else w).toByte)
          .put(0.toByte).put(0.toByte)
          .putShort(1).putShort(bpp.toShort)
          .putInt(imgBytes).putInt(off)
        off += imgBytes
        i += 1
      }
      var j = 0
      while (j < imgBytes * n) { out.put(((docId + j) % 256).toByte); j += 1 }
      out.array()
    }
  }

  def plantedIcoMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedIcos.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedIcos.craftedIco(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL Windows-icon (ICO) directory metadata from the binary
    * payload — the favicon/UI-asset container a web crawl actually
    * carries: ICONDIR (reserved 0, type 1, LE image count) + 16-byte
    * directory entries; the FIRST entry's dimensions and bit depth are
    * decoded with the format's zero-means-256 rule, and `complete`
    * additionally requires every declared entry's (offset, size) to
    * lie INSIDE the payload — a truncated or hostile directory falls
    * back instead of reporting phantom images. Pure column exprs,
    * map-only (the m8/m11 fixed-layout family: the directory stride is
    * fixed, so entry 0 needs no walk). */
  def icoMeta(media: DataFrame, maxEntries: Int = 4): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isIco = hex(p.substr(lit(1), lit(4))) === "00000100"
    val n = leUint(p, 5, 2)
    // every declared entry (up to maxEntries — the gate plants ≤ 3)
    // must fit: directory frame + its (offset, size) span in-payload
    val entriesOk = (1 to maxEntries).map { i =>
      val base = lit(7L + 16L * (i - 1))
      when(n < i, lit(true)).otherwise(
        coalesce(
          leUintAt(p, base + 12, 4) + leUintAt(p, base + 8, 4) <= len &&
            base + 15 <= len, lit(false)))
    }.reduce(_ && _)
    val w0 = leUint(p, 7, 1)
    val h0 = leUint(p, 8, 1)
    val bpp0 = leUint(p, 13, 2)
    val complete = coalesce(isIco, lit(false)) &&
      coalesce(n >= 1 && n <= maxEntries, lit(false)) && entriesOk
    media.select(
      col("doc_id"),
      complete.cast("int").as("is_ico"),
      when(complete, n.cast("int"))
        .otherwise((lit(1) + pmod(len, lit(3))).cast("int")).as("n_images"),
      when(complete, when(w0 === 0, lit(256)).otherwise(w0).cast("int"))
        .otherwise(lit(16) + pmod(len, lit(4)) * 16).as("width"),
      when(complete, when(h0 === 0, lit(256)).otherwise(h0).cast("int"))
        .otherwise(lit(16) + pmod(len, lit(4)) * 16).as("height"),
      when(complete, bpp0.cast("int")).otherwise(lit(32)).as("bpp"))
  }

  /** The m26 gate: icon-directory metadata over the planted corpus. */
  def icoMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedIcos.Every): DataFrame =
    icoMeta(plantedIcoMedia(spark, documents, every).toDF())

  /** Deterministic planted MP4 (ISO-BMFF) payloads for m7's gate: every
    * `every`-th doc_id gets a minimal valid MP4 whose header fields are
    * pure functions of doc_id — `timescale = 600 + (id%5)·300`,
    * `duration = 1200 + (id%997)·7` — so the oracle replays them from
    * the plant formula. The box layout deliberately exercises a REAL
    * top-level walk: ftyp, then a variable-length `free` box
    * (pad = id%32), then `mdat` (id%16 payload bytes), then `moov`
    * holding the version-0 `mvhd` — the parser must skip two
    * variable-size boxes before it finds the movie header. */
  object PlantedMp4s {
    val Every = 8

    /** Two planted layouts with IDENTICAL mvhd fields per doc (so the
      * m7 oracle formulas are layout-independent): id % 16 != 0 keeps
      * the all-32-bit walk with a version-0 mvhd; id % 16 == 0 writes
      * the mdat as a LARGESIZE box (size field = 1, 64-bit size at
      * offset 8 — how real >4 GiB media is laid out) and a VERSION-1
      * mvhd (64-bit ctime/mtime/duration) — the two branches the walk
      * must take beyond the canonical case. */
    def craftedMp4(docId: Long): Array[Byte] = {
      val large = docId % 16 == 0
      val pad = (docId % 32).toInt
      val mdatLen = (docId % 16).toInt
      val timescale = (600 + (docId % 5) * 300).toInt
      val duration = (1200 + (docId % 997) * 7).toInt
      val mdatHdr = if (large) 16 else 8
      val mvhdLen = if (large) 120 else 108 // v1: +8 ctime +8 mtime +8 dur -12 v0 fields
      val out = java.nio.ByteBuffer.allocate(
        20 + (8 + pad) + (mdatHdr + mdatLen) + 8 + mvhdLen)
      def ascii(s: String) = out.put(s.getBytes("US-ASCII"))
      out.putInt(20); ascii("ftyp"); ascii("isom"); out.putInt(0x200); ascii("mp41")
      out.putInt(8 + pad); ascii("free")
      var i = 0
      while (i < pad) { out.put(((docId + i * 3) % 256).toByte); i += 1 }
      if (large) { out.putInt(1); ascii("mdat"); out.putLong(16L + mdatLen) }
      else { out.putInt(8 + mdatLen); ascii("mdat") }
      i = 0
      while (i < mdatLen) { out.put(((docId * 5 + i) % 256).toByte); i += 1 }
      out.putInt(8 + mvhdLen); ascii("moov")
      out.putInt(mvhdLen); ascii("mvhd")
      if (large) {
        out.putInt(0x01000000)            // version 1 + flags
        out.putLong(0L).putLong(0L)       // ctime, mtime (64-bit)
        out.putInt(timescale).putLong(duration.toLong)
      } else {
        out.putInt(0)                     // version 0 + flags
        out.putInt(0).putInt(0)           // ctime, mtime
        out.putInt(timescale).putInt(duration)
      }
      out.putInt(0x00010000)              // rate 1.0
      out.putShort(0x0100.toShort)        // volume 1.0
      out.putShort(0); out.putInt(0).putInt(0) // reserved
      // identity matrix
      out.putInt(0x00010000).putInt(0).putInt(0)
      out.putInt(0).putInt(0x00010000).putInt(0)
      out.putInt(0).putInt(0).putInt(0x40000000)
      (1 to 6).foreach(_ => out.putInt(0)) // pre_defined
      out.putInt(2)                       // next_track_id
      out.array()
    }
  }

  /** Deterministic planted GIF payloads for m8's gate: every `every`-th
    * doc_id gets a valid GIF89a whose logical-screen-descriptor fields
    * are pure functions of doc_id — `width = 16 + id%241`,
    * `height = 16 + id%199`, GCT present with `2^((id%8)+1)` entries,
    * `bg = id%7` — followed by the full global color table and the
    * trailer byte, so the screen-descriptor parse (and its length
    * check) exercises a variable-size real layout. */
  object PlantedGifs {
    val Every = 8

    def craftedGif(docId: Long): Array[Byte] = {
      val w = (16 + docId % 241).toInt
      val h = (16 + docId % 199).toInt
      val bits = (docId % 8).toInt
      val entries = 2 << bits // 2^(bits+1)
      val out = java.nio.ByteBuffer.allocate(13 + 3 * entries + 1)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("GIF89a".getBytes("US-ASCII"))
        .putShort(w.toShort).putShort(h.toShort)
        .put((0x80 | (bits << 4) | bits).toByte) // GCT flag + color res + GCT size
        .put((docId % 7).toByte)                 // background color index
        .put(0.toByte)                           // pixel aspect ratio
      var i = 0
      while (i < 3 * entries) { out.put(((docId * 11 + i * 5) % 256).toByte); i += 1 }
      out.put(0x3B.toByte)                       // trailer
      out.array()
    }
  }

  object PlantedBmps {
    val Every = 8

    /** Minimal BITMAPINFOHEADER 24-bpp bottom-up BMP: 14-byte file
      * header + 40-byte DIB + BI_RGB pixel rows padded to 4 bytes, all
      * dims deterministic in doc_id so the oracle replays them. */
    def craftedBmp(docId: Long): Array[Byte] = {
      val w = (4 + docId % 61).toInt
      val h = (4 + docId % 47).toInt
      val rowBytes = (w * 3 + 3) / 4 * 4
      val dataSize = rowBytes * h
      val fileSize = 54 + dataSize
      val out = java.nio.ByteBuffer.allocate(fileSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte).putInt(fileSize)
        .putShort(0).putShort(0).putInt(54)  // reserved ×2, pixel offset
        .putInt(40)                          // BITMAPINFOHEADER
        .putInt(w).putInt(h)
        .putShort(1).putShort(24)            // planes, bpp
        .putInt(0)                           // BI_RGB
        .putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var i = 0
      while (i < dataSize) { out.put(((docId * 7 + i * 3) % 256).toByte); i += 1 }
      out.array()
    }
  }

  object PlantedTiffs {
    val Every = 8

    /** Minimal baseline TIFF: 8-byte header (byte-order mark, magic 42,
      * IFD offset 8), one IFD with four SHORT entries (ImageWidth 256,
      * ImageLength 257, BitsPerSample 258, SamplesPerPixel 277), zero
      * next-IFD pointer, and a small strip of deterministic bytes.
      * BYTE ORDER ALTERNATES per planted file ((doc_id / every) % 2 = 0
      * → II little-endian, else MM big-endian) — TIFF is the format
      * whose header endianness is data, which is exactly what this
      * plant exists to pin. SHORT values are left-justified in the
      * 4-byte value field per the spec, which `putShort(v); putShort(0)`
      * produces under either ByteOrder. */
    def craftedTiff(docId: Long): Array[Byte] = {
      val le = (docId / Every) % 2 == 0
      val w = (16 + docId % 53).toInt
      val h = (16 + docId % 41).toInt
      val nEntries = 4
      val size = 8 + 2 + nEntries * 12 + 4 + 16
      val out = java.nio.ByteBuffer.allocate(size).order(
        if (le) java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      if (le) out.put(0x49.toByte).put(0x49.toByte)
      else out.put(0x4D.toByte).put(0x4D.toByte)
      out.putShort(42).putInt(8)
      out.putShort(nEntries.toShort)
      def entryShort(tag: Int, v: Int): Unit = {
        out.putShort(tag.toShort).putShort(3).putInt(1)
        out.putShort(v.toShort).putShort(0)
      }
      entryShort(256, w)
      entryShort(257, h)
      entryShort(258, 8)
      entryShort(277, 1)
      out.putInt(0)
      var i = 0
      while (i < 16) { out.put(((docId * 7 + i * 3) % 256).toByte); i += 1 }
      out.array()
    }
  }

  object PlantedPdfs {
    val Every = 8
    def nPages(docId: Long): Int = (1 + docId % 4).toInt

    /** Minimal structurally-real PDF: header with a doc_id-derived
      * minor version, catalog → pages tree with an explicit /Count, one
      * /Type /Page object per page, an /Info object carrying /Title,
      * trailer + startxref + %%EOF. The /Count value and the number of
      * page OBJECTS agree by construction — a parser reading either
      * must land on the same page count. */
    def craftedPdf(docId: Long): Array[Byte] = {
      val minor = ((docId / Every) % 8).toInt
      val pages = nPages(docId)
      val sb = new StringBuilder
      sb.append(s"%PDF-1.$minor\n")
      sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      val kids = (0 until pages).map(i => s"${3 + i} 0 R").mkString(" ")
      sb.append(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $pages >>\nendobj\n")
      (0 until pages).foreach { i =>
        sb.append(s"${3 + i} 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n")
      }
      sb.append(s"${3 + pages} 0 obj\n<< /Title (Doc $docId) >>\nendobj\n")
      sb.append(s"trailer\n<< /Size ${4 + pages} /Info ${3 + pages} 0 R >>\n")
      sb.append("startxref\n0\n%%EOF")
      sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    }
  }

  object PlantedId3s {
    val Every = 8

    /** Minimal ID3v2 tag ahead of filler audio bytes: "ID3", version
      * (2.3 / 2.4 alternating per file), zero flags, and the tag size
      * as a SYNCSAFE integer — 7 bits per byte, high bit always clear
      * (the MP3 framing trick that keeps tag bytes from faking a frame
      * sync). Sizes are chosen ≥ 128 so a naive big-endian read gives a
      * DIFFERENT number — the plant detects a parser that skipped the
      * syncsafe decode. */
    def craftedId3(docId: Long): Array[Byte] = {
      val ver = (3 + (docId / Every) % 2).toInt
      val size = (128 + docId % 900).toInt
      val out = java.nio.ByteBuffer.allocate(10 + size + 24)
      out.put('I'.toByte).put('D'.toByte).put('3'.toByte)
      out.put(ver.toByte).put(0.toByte).put(0.toByte)
      out.put(((size >> 21) & 0x7f).toByte).put(((size >> 14) & 0x7f).toByte)
      out.put(((size >> 7) & 0x7f).toByte).put((size & 0x7f).toByte)
      var i = 0
      while (i < size + 24) { out.put(((docId * 11 + i * 5) % 256).toByte); i += 1 }
      out.array()
    }
  }

  object PlantedExifs {
    val Every = 4

    /** Minimal real JPEG/APP1/EXIF carrier: SOI, an APP1 segment whose
      * body is `Exif\0\0` + a little-endian TIFF block — IFD0 with
      * width/height SHORT entries and (on %8==0 docs) the GPSInfo
      * LONG-offset entry (tag 34853) pointing at a GPS IFD whose
      * GPSLatitude/GPSLongitude RATIONAL triples live in trailing
      * value blocks — then filler "image" bytes and EOI. Every value a
      * formula of doc_id so the oracle replays the parse relationally;
      * the GPS coordinates are the PII the m15 scrub half exists to
      * remove. */
    /** The shared little-endian TIFF block (header + IFD0 + optional
      * GPS sub-IFD + rationals) both crafted containers wrap. */
    def tiffBlock(docId: Long): Array[Byte] = {
      val hasGps = docId % 8 == 0
      val nEntries = if (hasGps) 3 else 2
      val tiffLen = if (hasGps) 128 else 38
      val out = java.nio.ByteBuffer.allocate(tiffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(8)
      out.putShort(nEntries.toShort)
      def entry(tag: Int, typ: Int, cnt: Int, value: Int): Unit = {
        out.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
        if (typ == 3) { out.putShort(value.toShort).putShort(0.toShort) }
        else out.putInt(value)
      }
      entry(256, 3, 1, (16 + docId % 53).toInt)        // width SHORT
      entry(257, 3, 1, (16 + docId % 41).toInt)        // height SHORT
      if (hasGps) entry(34853, 4, 1, 50)               // GPSInfo → off 50
      out.putInt(0)                                    // next-IFD ptr
      if (hasGps) {
        out.putShort(2.toShort)                        // GPS IFD at off 50
        entry(2, 5, 3, 80)                             // GPSLatitude → 80
        entry(4, 5, 3, 104)                            // GPSLongitude → 104
        out.putInt(0)
        // rational triples (num, den) — deg/min/sec
        out.putInt((docId % 90).toInt).putInt(1)
        out.putInt((docId % 60).toInt).putInt(1)
        out.putInt((docId % 6000).toInt).putInt(100)
        out.putInt((docId % 180).toInt).putInt(1)
        out.putInt(((docId * 3) % 60).toInt).putInt(1)
        out.putInt(((docId * 7) % 6000).toInt).putInt(100)
      }
      out.array()
    }

    def craftedExif(docId: Long): Array[Byte] = {
      val tiff = tiffBlock(docId)
      val app1Len = 2 + 6 + tiff.length
      val out = java.nio.ByteBuffer.allocate(4 + 2 + 6 + tiff.length + 10)
      out.put(0xFF.toByte).put(0xD8.toByte)            // SOI
      out.put(0xFF.toByte).put(0xE1.toByte)            // APP1
      out.put((app1Len >> 8).toByte).put((app1Len & 0xFF).toByte) // BE len
      out.put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
      out.put(tiff)
      var i = 0
      while (i < 8) { out.put(((docId * 13 + i * 7) % 256).toByte); i += 1 }
      out.put(0xFF.toByte).put(0xD9.toByte)            // EOI
      out.array()
    }

    /** Minimal real PNG carrier with the SAME TIFF block inside an
      * `eXIf` chunk (PNG 1.2 extension; the second container real
      * image corpora deliver GPS metadata in): signature, an IHDR
      * chunk, the eXIf chunk, IEND. CRCs are filler — the walk is
      * length-driven, as in every chunk-tolerant reader. */
    def craftedPngExif(docId: Long): Array[Byte] = {
      val tiff = tiffBlock(docId)
      val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + tiff.length + 12)
      out.put(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte))
      out.putInt(13).put("IHDR".getBytes("US-ASCII"))  // IHDR: 13 data
      out.putInt((32 + docId % 97).toInt)              // png width
      out.putInt((32 + docId % 89).toInt)              // png height
      out.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
        .put(0.toByte)
      out.putInt(0)                                    // crc filler
      out.putInt(tiff.length).put("eXIf".getBytes("US-ASCII"))
      out.put(tiff)
      out.putInt(0)                                    // crc filler
      out.putInt(0).put("IEND".getBytes("US-ASCII")).putInt(0)
      out.array()
    }
  }

  /** Documents with planted PNG/eXIf payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedPngExifMedia(spark: SparkSession, documents: DataFrame,
                          every: Int = PlantedExifs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedExifs.craftedPngExif(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Documents with planted JPEG/EXIF payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedExifMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedExifs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedExifs.craftedExif(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Overwrite `n` bytes of a binary column at 1-based `pos` with
    * zeros — the in-place redaction primitive (offsets of everything
    * else are untouched, so a redacted file stays structurally valid).
    * Identity when pos/n are null. */
  private def zeroRegion(p: org.apache.spark.sql.Column,
                         pos: org.apache.spark.sql.Column,
                         n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(pos.isNotNull && n.isNotNull,
      // n repetitions of the two-hex-char byte "00" unhex to exactly n
      // zero BYTES (an n*2 repeat count would write 2n bytes, growing
      // the file and shifting every later offset — the r12 self-review
      // catch, now pinned by ExifSpec's emitPayload byte-image check)
      concat(p.substr(lit(1), (pos - 1).cast("int")),
        unhex(call_function("repeat", lit("00"), n.cast("int"))),
        p.substr((pos + n).cast("int"), octet_length(p))))
      .otherwise(p)

  /** REAL EXIF GPS detection AND redaction from the binary payload —
    * the privacy operator that is the visual-side twin of t12/t20
    * (geotagged uploads leak home addresses into image corpora; the
    * standard remediation is to strip the GPS IFD before training):
    * m12's endian-aware TIFF IFD walk run INSIDE the JPEG APP1
    * segment (SOI → APP1 marker → `Exif\0\0` → TIFF header at a fixed
    * base → IFD0 entry walk), the GPSInfo pointer (tag 34853) followed
    * to the GPS sub-IFD, and the GPSLatitude/GPSLongitude RATIONAL
    * offsets followed to the degree numerators. The scrub half zeroes
    * — IN PLACE, no byte moves, file stays structurally valid — the
    * GPS pointer entry, the GPS IFD block, and both 24-byte rational
    * blocks, then RE-READS the pointer slot from the cleaned bytes
    * (`gps_after`, 0 on every scrubbed row — the operator audits its
    * own output, and the spec feeds cleaned payloads back through the
    * full parser). Pure column exprs, one scan, no shuffle/UDF; the
    * fallback tiers are the media contract. */
  def exifGpsScrub(media: DataFrame, maxEntries: Int = 4,
                   // emitPayload = true appends the scrubbed BYTES as
                   // clean_payload — the production output (write these
                   // files); the gate runs false because the oracle
                   // compares relational fields, and the byte image is
                   // spec-verified against an independent reconstruction
                   emitPayload: Boolean = false,
                   // PNG eXIf discovery walks this many chunks
                   maxChunks: Int = 4): DataFrame = {
    // r19 (optimization round, guide §4): the whole walk + scrub is ONE
    // native expression (graft_exif_gps). The column-algebra form below
    // ([[exifGpsScrubAlgebra]]) is past janino's 64 KB fused-method
    // limit, so its stage ran with whole-stage codegen DISABLED (the
    // documented r15 bound) and every projection hop re-materialized
    // the multi-KB payload; the native pass restores stage fusion and
    // walks the bytes once. Field-for-field and byte-for-byte parity
    // (including the adversarial gating corners) is pinned by
    // ExifGpsParitySpec, and ExifSpec's adversarial suite now drives
    // this path directly.
    val p = col("payload")
    val len = octet_length(p).cast("long")
    val g = col("_g")
    media
      .withColumn("_g", call_function("graft_exif_gps", p,
        lit(maxEntries), lit(maxChunks)))
      .select(Seq(
        col("doc_id"),
        g.getField("exif").cast("int").as("is_exif"),
        when(g.getField("exif") && g.getField("jpeg"), lit("jpeg"))
          .when(g.getField("exif") && g.getField("png"), lit("png"))
          .otherwise(lit("none")).as("container"),
        g.getField("n_entries").as("n_entries"),
        when(g.getField("exif"), g.getField("w").cast("int"))
          .otherwise((lit(16) + pmod(len * 3, lit(521))).cast("int"))
          .as("width"),
        g.getField("gps").cast("int").as("has_gps"),
        g.getField("lat").as("gps_lat_deg"),
        g.getField("lon").as("gps_lon_deg"),
        coalesce(when(g.getField("exif"), g.getField("gps_after")), lit(0))
          .as("gps_after"),
        g.getField("n_zeroed").as("n_zeroed")) ++
        (if (emitPayload) Seq(g.getField("clean").as("clean_payload"))
         else Seq.empty): _*)
  }

  /** The pre-r19 column-algebra walk — kept verbatim as the executable
    * parity SPEC for [[exifGpsScrub]]'s native expression
    * (ExifGpsParitySpec pins field-for-field + byte-for-byte equality);
    * not on any hot path. */
  private[graft] def exifGpsScrubAlgebra(media: DataFrame, maxEntries: Int = 4,
                   emitPayload: Boolean = false,
                   maxChunks: Int = 4): DataFrame = {
    val p = col("payload")
    val len = octet_length(p).cast("long")
    val isJpegApp1 = hex(p.substr(lit(1), lit(4))) === "FFD8FFE1" &&
      hex(p.substr(lit(7), lit(6))) === "457869660000"
    // PNG container: signature, then length-driven chunks — the eXIf
    // chunk (PNG 1.2 extension) holds the very same TIFF block JPEG
    // carries in APP1, so ONE IFD/GPS walk serves both containers once
    // the TIFF base position is found (m12 → m15 → m16 reuse ladder)
    val isPng = hex(p.substr(lit(1), lit(8))) === "89504E470D0A1A0A"
    // positions derived from untrusted 4-byte fields are range-gated to
    // the payload (the beUintInt posture): a corrupt chunk length or IFD
    // offset near 2^32 must null out and fall into the fallback tiers,
    // not overflow an int cast under ANSI and fail the job
    def gatedPos(pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(pos >= 1L && pos <= len, pos)
    var m0 = media.withColumn("_pk0", lit(9L))
    for (j <- 0 until maxChunks) {
      m0 = m0
        .withColumn(s"_pct$j",
          p.substr((col(s"_pk$j") + 4).cast("int"), lit(4)).cast("string"))
        .withColumn(s"_pcl$j", beUint(p, col(s"_pk$j"), 4))
        // range-gated hop: chunk length is untrusted; a cursor that
        // can't fit another 12-byte chunk frame nulls out and the walk
        // stops (every downstream read of a null cursor yields null)
        .withColumn(s"_pk${j + 1}", {
          val nxt = col(s"_pk$j") + 12 + coalesce(col(s"_pcl$j"), lit(0L))
          when(nxt + 11 <= len, nxt)
        })
    }
    val pngExifPos = coalesce((0 until maxChunks).map(j =>
      when(col(s"_pct$j") === "eXIf", col(s"_pk$j") + 8)): _*)
    val media2 = m0.withColumn("_tbase",
      when(isJpegApp1, lit(13L)).otherwise(when(isPng, pngExifPos)))
    def at(off: org.apache.spark.sql.Column) = gatedPos(col("_tbase") + off)
    val bo = hex(p.substr(at(lit(0L)).cast("int"), lit(2)))
    // Endianness + per-entry types are MATERIALIZED (the m12/m32
    // codegen lesson, same round); that shrinks the fused consume but
    // this operator's three-level pointer walk is still past janino's
    // 64 KB single-method limit when whole-stage codegen fuses it
    // (fused projections cannot split expressions — the currentVars
    // limitation), and sort/checkpoint barriers don't pin (Catalyst
    // commutes Project through them — tried, measured). The MEASURED
    // behavior is benign and documented rather than hidden: Spark logs
    // "Whole-stage codegen disabled for plan" and executes the child
    // plan, where every ProjectExec compiles its OWN UnsafeProjection
    // WITH working expression splitting — per-operator codegen, not
    // the interpreted row path (categorically different from the r14
    // CurationSpec finding, which was an UnsafeProjection-level
    // failure). Only stage FUSION is lost, on this operator's stage.
    val isLE = col("_le")
    val isBE = bo === "4D4D"
    // IFD and rational offsets come from untrusted inline LONG values
    // (u4, up to 2^32-1); at() gates every absolute position to the
    // payload so a hostile offset reads as null instead of overflowing
    // the substr int cast
    def u2(off: org.apache.spark.sql.Column) =
      when(isLE, leUintAt(p, at(off), 2)).otherwise(beUint(p, at(off), 2))
    def u4(off: org.apache.spark.sql.Column) =
      when(isLE, leUintAt(p, at(off), 4)).otherwise(beUint(p, at(off), 4))
    val staged = media2
      .withColumn("_le", bo === "4949")
      .withColumn("_magic", u2(lit(2L)))
      .withColumn("_ifd", u4(lit(4L)))
      .withColumn("_cnt", u2(col("_ifd")))
    // IFD0 walk: value decoded by type (SHORT inline, LONG inline)
    val withTags = (0 until maxEntries).foldLeft(staged) { (df, i) =>
      val base = col("_ifd") + 2 + i * 12
      df.withColumn(s"_tag$i", when(lit(i) < col("_cnt"), u2(base)))
        .withColumn(s"_ty$i", when(lit(i) < col("_cnt"), u2(base + 2)))
        .withColumn(s"_val$i",
          when(col(s"_ty$i") === 3, u2(base + 8))
            .when(col(s"_ty$i") === 4, u4(base + 8)))
        .withColumn(s"_pos$i", at(base)) // absolute entry position
    }
    def tagVal(tag: Int) = coalesce((0 until maxEntries).map(i =>
      when(col(s"_tag$i") === tag, col(s"_val$i"))): _*)
    def tagPos(tag: Int) = coalesce((0 until maxEntries).map(i =>
      when(col(s"_tag$i") === tag, col(s"_pos$i"))): _*)
    // GPS sub-IFD walk (same entry shape; RATIONAL values are offsets)
    val withGps = withTags
      .withColumn("_goff", tagVal(34853))
      .withColumn("_gcnt", when(col("_goff").isNotNull, u2(col("_goff"))))
    val withGpsTags = (0 until maxEntries).foldLeft(withGps) { (df, i) =>
      val base = col("_goff") + 2 + i * 12
      df.withColumn(s"_gtag$i", when(lit(i) < col("_gcnt"), u2(base)))
        .withColumn(s"_gval$i", when(lit(i) < col("_gcnt"), u4(base + 8)))
    }
    def gtagVal(tag: Int) = coalesce((0 until maxEntries).map(i =>
      when(col(s"_gtag$i") === tag, col(s"_gval$i"))): _*)
    val parsed = withGpsTags
      .withColumn("_latOff", gtagVal(2))
      .withColumn("_lonOff", gtagVal(4))
      .withColumn("_exif", col("_tbase").isNotNull &&
        coalesce(isLE || isBE, lit(false)) &&
        coalesce(col("_magic") === 42, lit(false)) &&
        coalesce(col("_cnt").between(1, maxEntries), lit(false)) &&
        coalesce(len >= col("_ifd") + 2 + col("_cnt") * 12 + 4 + 12,
          lit(false)))
      .withColumn("_gps", col("_exif") && col("_goff").isNotNull &&
        coalesce(col("_latOff").isNotNull && col("_lonOff").isNotNull,
          lit(false)))
    // the scrub: zero the pointer entry, the GPS IFD block, and both
    // rational blocks — positions only, bytes never move
    val gifdLen = lit(2L) + col("_gcnt") * 12 + 4
    // each scrub stage is MATERIALIZED: zeroRegion references its input
    // payload THREE times (two substrs + the length), so nesting four
    // calls inline grows the byte-expression tree ~3^4 and the consume
    // method fails janino (the m12/m32 lesson at the WRITE side)
    val cleaned = parsed
      .withColumn("_c1", when(col("_gps"),
        zeroRegion(p, tagPos(34853), lit(12L))).otherwise(p))
      .withColumn("_c2", when(col("_gps"),
        zeroRegion(col("_c1"), at(col("_goff")), gifdLen)).otherwise(col("_c1")))
      .withColumn("_c3", when(col("_gps"),
        zeroRegion(col("_c2"), at(col("_latOff")), lit(24L))).otherwise(col("_c2")))
      .withColumn("_clean", when(col("_gps"),
        zeroRegion(col("_c3"), at(col("_lonOff")), lit(24L))).otherwise(col("_c3")))
    // audit: RE-READ the pointer slot from the cleaned bytes
    def u2c(off: org.apache.spark.sql.Column) =
      when(isLE, leUintAt(col("_clean"), at(off), 2))
        .otherwise(beUint(col("_clean"), at(off), 2))
    val gpsAfter = coalesce((0 until maxEntries).map(i =>
      when(lit(i) < col("_cnt") &&
        u2c(col("_ifd") + 2 + i * 12) === 34853, lit(1))): _*)
    cleaned.select(Seq(
      col("doc_id"),
      col("_exif").cast("int").as("is_exif"),
      when(col("_exif") && isJpegApp1, lit("jpeg"))
        .when(col("_exif") && isPng, lit("png"))
        .otherwise(lit("none")).as("container"),
      when(col("_exif"), col("_cnt").cast("int")).otherwise(lit(0))
        .as("n_entries"),
      when(col("_exif"), tagVal(256).cast("int"))
        .otherwise((lit(16) + pmod(len * 3, lit(521))).cast("int"))
        .as("width"),
      col("_gps").cast("int").as("has_gps"),
      when(col("_gps"), u4(col("_latOff"))).as("gps_lat_deg"),
      when(col("_gps"), u4(col("_lonOff"))).as("gps_lon_deg"),
      coalesce(when(col("_exif"), gpsAfter), lit(0)).as("gps_after"),
      when(col("_gps"), lit(12L) + gifdLen + 48).otherwise(lit(0L))
        .as("n_zeroed")) ++
      (if (emitPayload) Seq(col("_clean").as("clean_payload"))
       else Seq.empty): _*)
  }

  /** The m16 gate: the SAME GPS audit + scrub over PNG/eXIf carriers. */
  def pngGpsScrubPlanted(spark: SparkSession, documents: DataFrame,
                         every: Int = PlantedExifs.Every): DataFrame =
    exifGpsScrub(plantedPngExifMedia(spark, documents, every).toDF())

  /** The m15 gate: EXIF GPS audit + scrub over the planted corpus. */
  def exifGpsScrubPlanted(spark: SparkSession, documents: DataFrame,
                          every: Int = PlantedExifs.Every): DataFrame =
    exifGpsScrub(plantedExifMedia(spark, documents, every).toDF())

  object PlantedWarcs {
    val Every = 4

    /** A minimal two-record WARC file (ISO 28500 framing): each record
      * is a version line, three named headers (WARC-Type,
      * WARC-Target-URI, Content-Length), the blank line, Content-Length
      * payload bytes, and the mandated trailing CRLF CRLF. TWO
      * concatenated records — a response then a request for the same
      * target — so the gate proves the cursor advances across record
      * boundaries by exact byte arithmetic (record 1 only parses if
      * record 0's framing consumed precisely header+payload+4 bytes).
      * All bytes ASCII, every field a formula of doc_id, so the oracle
      * replays both records' fields AND absolute payload offsets
      * relationally. */
    def craftedWarc(docId: Long): Array[Byte] = {
      val uri = s"http://w$docId.example.com/p${docId % 7}"
      def rec(typ: String, cl: Int): String = {
        val body = (0 until cl)
          .map(i => ('a' + ((docId * 7 + i * 3) % 26)).toChar).mkString
        s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
          s"Content-Length: $cl\r\n\r\n$body\r\n\r\n"
      }
      (rec("response", (40 + docId % 100).toInt) +
        rec("request", (20 + docId % 50).toInt))
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    }
  }

  /** Documents with planted two-record WARC payloads on every
    * `every`-th doc_id (text bytes otherwise). */
  def plantedWarcMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedWarcs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedWarcs.craftedWarc(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL WARC (ISO 28500) record framing from the binary payload — the
    * CONTAINER layer ahead of t16's HTML extraction: every web-scale
    * pipeline starts from crawl containers, not a pre-extracted
    * documents table, and the first operation is always "split the
    * container into records and read each record's headers". Pure
    * column exprs, the m7 box-walk posture at the record layer: an
    * unrolled cursor walk (up to `maxRecords` per payload — the same
    * fixed-unroll contract as the MP4 top-level walk) where each step
    * (1) reads a bounded `hdrWin`-byte header window at the cursor,
    * (2) validates the `WARC/1.0\r\n` version line and locates the
    * blank line, (3) extracts WARC-Type / WARC-Target-URI /
    * Content-Length with CRLF-anchored regexes over the header region
    * only, and (4) advances the cursor past header + Content-Length
    * payload + the trailing CRLF CRLF. A record only parses if every
    * prior record's framing was exact, so the emitted prefix is
    * self-verifying. Offsets are BYTE-exact even with multi-byte UTF-8
    * header values (the spec allows them in e.g. WARC-Target-URI): the
    * blank line is located in the decoded window but its position is
    * converted back to a byte offset before any cursor arithmetic or
    * payload slice. Non-WARC payloads emit one
    * `is_warc = 0` fallback row with deterministic synthetic metadata
    * — the media-family contract. One scan, no shuffle, no UDF;
    * at 100 TB this is the embarrassingly-parallel ingest map that
    * feeds everything else. */
  /** The shared record walk: annotates `media` with per-record
    * `_ok/_type/_uri/_n/_po` columns (see [[warcRecords]]). */
  private def warcWalk(media: DataFrame, maxRecords: Int,
                       hdrWin: Int): DataFrame = {
    val p = col("payload")
    val len = octet_length(p).cast("long")
    var df = media.withColumn("_c0", lit(1L))
    for (i <- 0 until maxRecords) {
      val c = col(s"_c$i")
      df = df
        .withColumn(s"_w$i", p.substr(c, lit(hdrWin)).cast("string"))
        // _hc: CHARACTER index of the blank line in the decoded window
        // (for the regex region); _he: its BYTE offset — octet_length
        // of the character prefix — because every cursor/length below
        // is byte arithmetic and a multi-byte UTF-8 header value (a
        // non-ASCII WARC-Target-URI, common in real crawls) makes the
        // two diverge: mixing them mis-slices the payload and silently
        // drops every later record (the r12 self-review catch,
        // spec-pinned with a multi-byte-URI container)
        .withColumn(s"_hc$i", instr(col(s"_w$i"), "\r\n\r\n").cast("long"))
        .withColumn(s"_he$i", when(col(s"_hc$i") > 0, octet_length(
          col(s"_w$i").substr(lit(1), (col(s"_hc$i") - 1).cast("int")))
          .cast("long") + 1).otherwise(lit(0L)))
        // header region: version line through the final header's CRLF
        .withColumn(s"_h$i",
          col(s"_w$i").substr(lit(1), (col(s"_hc$i") + 1).cast("int")))
        .withColumn(s"_cl$i", regexp_extract(col(s"_h$i"),
          "\r\nContent-Length: ([0-9]{1,10})\r\n", 1))
        .withColumn(s"_n$i",
          when(col(s"_cl$i") =!= "", col(s"_cl$i").cast("long")))
        .withColumn(s"_type$i", regexp_extract(col(s"_h$i"),
          "\r\nWARC-Type: ([^\r]+)\r\n", 1))
        .withColumn(s"_uri$i", regexp_extract(col(s"_h$i"),
          "\r\nWARC-Target-URI: ([^\r]+)\r\n", 1))
        .withColumn(s"_ok$i",
          col(s"_w$i").startsWith("WARC/1.0\r\n") && col(s"_he$i") > 0 &&
            col(s"_type$i") =!= "" && col(s"_n$i").isNotNull &&
            len >= c + col(s"_he$i") + col(s"_n$i") + 6)
        .withColumn(s"_po$i", c + col(s"_he$i") + lit(3L))
        .withColumn(s"_c${i + 1}",
          when(col(s"_ok$i"), col(s"_po$i") + col(s"_n$i") + 4)
            .otherwise(len + 1))
    }
    df
  }

  def warcRecords(media: DataFrame, maxRecords: Int = 3,
                  hdrWin: Int = 512): DataFrame = {
    val p = col("payload")
    val len = octet_length(p).cast("long")
    val df = warcWalk(media, maxRecords, hdrWin)
    // int casts gated on ok: the ok length-check bounds every value by
    // the payload size, so a crafted 10-digit Content-Length can never
    // reach an ANSI overflow on the cast
    val recs = array((0 until maxRecords).map(i => struct(
      col(s"_ok$i").as("ok"),
      lit(1).as("is_warc"),
      col(s"_type$i").as("warc_type"),
      when(col(s"_uri$i") =!= "", col(s"_uri$i")).as("target_uri"),
      when(col(s"_ok$i"), col(s"_n$i").cast("int")).as("content_length"),
      when(col(s"_ok$i"), col(s"_po$i").cast("int")).as("payload_off"))): _*)
    val kept = filter(recs, r => r.getField("ok"))
    val fallback = array(struct(
      lit(true).as("ok"),
      lit(0).as("is_warc"),
      lit("none").as("warc_type"),
      lit(null).cast("string").as("target_uri"),
      (lit(32L) + pmod(len * 7, lit(997L))).cast("int").as("content_length"),
      lit(0).as("payload_off")))
    df.select(col("doc_id"),
        posexplode(when(size(kept) > 0, kept).otherwise(fallback)))
      .select(col("doc_id"), col("pos").cast("int").as("rec_idx"),
        col("col.is_warc").as("is_warc"),
        col("col.warc_type").as("warc_type"),
        col("col.target_uri").as("target_uri"),
        col("col.content_length").as("content_length"),
        col("col.payload_off").as("payload_off"))
  }

  /** The m14 gate: WARC record framing over the planted corpus. */
  def warcRecordsPlanted(spark: SparkSession, documents: DataFrame,
                         every: Int = PlantedWarcs.Every): DataFrame =
    warcRecords(plantedWarcMedia(spark, documents, every).toDF())

  /** The crawl FRONT DOOR end-to-end (c55): [[warcRecords]]' framing +
    * response-payload extraction + [[graft.operators.TextOps.cleanHtml]]
    * in ONE scan — container bytes in, clean training text out, which
    * is the composition every real pipeline runs before any t/c/d
    * operator can even start. Only `response` records yield documents
    * (requests/metadata are crawl bookkeeping); each emitted row keeps
    * its container record index and target URI so provenance survives
    * into the corpus (c33/d24 compose downstream on the URI). The
    * payload slice is a substr at the walk's byte-exact offset — no
    * re-scan, no join back to a second copy of the container; a
    * non-WARC or malformed payload yields NO rows (an ingest emits
    * documents, not fallbacks — the audit view of the same bytes is
    * m14). Pure map + explode, no shuffle at any corpus scale. */
  def warcIngest(media: DataFrame, maxRecords: Int = 3,
                 hdrWin: Int = 512): DataFrame = {
    val p = col("payload")
    val df = warcWalk(media, maxRecords, hdrWin)
    val recs = array((0 until maxRecords).map(i => struct(
      (col(s"_ok$i") && col(s"_type$i") === "response").as("ok"),
      lit(i).as("rec_idx"),
      when(col(s"_uri$i") =!= "", col(s"_uri$i")).as("target_uri"),
      when(col(s"_ok$i") && col(s"_type$i") === "response",
        p.substr(col(s"_po$i").cast("int"),
          col(s"_n$i").cast("int")).cast("string")).as("body"))): _*)
    val kept = filter(recs, r => r.getField("ok"))
    val clean = graft.operators.TextOps.cleanHtml(col("r.body"))
    df.select(col("doc_id"), explode(kept).as("r"))
      .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
        col("r.target_uri").as("target_uri"), clean.as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")).cast("int"))
  }

  /** The c55 gate: end-to-end WARC→text ingest over planted containers
    * whose response bodies are real HTML pages. */
  def warcIngestPlanted(spark: SparkSession, documents: DataFrame,
                        every: Int = PlantedWarcHtmls.Every): DataFrame =
    warcIngest(plantedWarcHtmlMedia(spark, documents, every).toDF())

  object PlantedWarcHtmls {
    val Every = 4

    /** WARC container whose record 0 response body is a REAL HTML page
      * wrapping the document's text (title + paragraph + footer — tags
      * the extraction chain must strip), record 1 a request (ingest
      * must skip it). ASCII throughout; the oracle replays the
      * extracted clean text from the same concatenation. */
    def craftedWarcHtml(docId: Long, text: String): Array[Byte] = {
      val uri = s"http://ingest$docId.example.com/"
      val html = s"<html><head><title>Page $docId</title></head>" +
        s"<body><p>$text</p><footer>(c) 2026</footer></body></html>"
      def rec(typ: String, body: String): String =
        s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"
      (rec("response", html) + rec("request", ""))
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    }
  }

  /** Documents as planted WARC-with-HTML containers on every `every`-th
    * doc_id (raw text bytes otherwise — warcIngest must emit nothing
    * for those). */
  def plantedWarcHtmlMedia(spark: SparkSession, documents: DataFrame,
                           every: Int = PlantedWarcHtmls.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0)
          MediaIn(id, PlantedWarcHtmls.craftedWarcHtml(id, text))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Documents with planted real-ID3v2 payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedPdfMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedPdfs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedPdfs.craftedPdf(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL PDF document metadata from the binary payload — the last big
    * document container the ingest front door meets (scanned books,
    * papers, reports): `%PDF-` magic + version from the header line,
    * object count from the `N 0 obj` markers, page count from the
    * pages tree's declarative /Count (cross-checkable against the
    * /Type /Page object census — both planted to agree), /Title from
    * the info dictionary, and the %%EOF trailer presence a truncation
    * check reads. Regexp extracts over the decoded byte string — PDF's
    * skeleton is ASCII by spec (only stream payloads are binary), so
    * the structural layer needs no byte walking; non-PDF payloads gate
    * out at the magic check. Pure map, no shuffle. */
  def pdfMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val s = p.cast("string")
    val isPdf = hex(p.substr(lit(1), lit(5))) === "255044462D"
    media.select(col("doc_id"),
      isPdf.cast("int").as("is_pdf"),
      when(isPdf, regexp_extract(s, "^%PDF-([0-9]+\\.[0-9]+)", 1))
        .otherwise(lit("")).as("version"),
      when(isPdf, size(regexp_extract_all(s, lit("(?m)^[0-9]+ 0 obj"), lit(0))))
        .otherwise(lit(0)).cast("int").as("n_objects"),
      // empty-match guard: a truncated PDF without a /Count must yield
      // 0, not throw CAST_INVALID_INPUT under ANSI (the same
      // degrade-never-crash contract as the container walks)
      when(isPdf && regexp_extract(s, "/Count ([0-9]+)", 1) =!= "",
        regexp_extract(s, "/Count ([0-9]+)", 1).cast("int"))
        .otherwise(lit(0)).as("n_pages"),
      when(isPdf, regexp_extract(s, "/Title \\(([^)]*)\\)", 1))
        .otherwise(lit("")).as("title"),
      when(isPdf, s.contains("%%EOF").cast("int")).otherwise(lit(0))
        .as("has_eof"))
  }

  /** The m24 gate: PDF structural metadata over the planted corpus. */
  def pdfMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedPdfs.Every): DataFrame =
    pdfMeta(plantedPdfMedia(spark, documents, every).toDF())

  def plantedId3Media(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedId3s.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedId3s.craftedId3(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Documents with planted real-TIFF payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedTiffMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedTiffs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedTiffs.craftedTiff(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Documents with planted real-BMP payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedBmpMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedBmps.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedBmps.craftedBmp(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Documents with planted real-GIF payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedGifMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedGifs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedGifs.craftedGif(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Documents with planted real-MP4 payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedMp4Media(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedMp4s.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedMp4s.craftedMp4(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Documents with planted real-WAV payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedWavMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedWavs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedWavs.craftedWav(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Big-endian unsigned int from `n` bytes of a binary column at 1-based
    * `pos` — substring+hex+conv, pure codegen exprs (no UDF). Null when
    * the read runs past the payload (hex comes back short). */
  private def beUint(payload: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column,
                     n: Int): org.apache.spark.sql.Column = {
    val h = hex(payload.substr(pos, lit(n)))
    when(length(h) === n * 2, conv(h, 16, 10).cast("long"))
  }

  /** beUint range-gated to the signed-int domain before the cast: a
    * crafted/corrupt 4-byte dimension >= 2^31 must become null (and fall
    * into the caller's coalesce fallback), not throw the whole job under
    * ANSI overflow checking. */
  private def beUintInt(payload: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column,
                        n: Int): org.apache.spark.sql.Column = {
    val v = beUint(payload, pos, n)
    when(v <= lit(Int.MaxValue.toLong), v).cast("int")
  }

  /** Little-endian unsigned int from `n` bytes at 1-based `pos`:
    * per-byte hex concatenated in reversed order → conv. Null when the
    * read runs past the payload. RIFF/WAV headers are little-endian —
    * the big-endian [[beUint]] covers PNG/JPEG. */
  private def leUint(payload: org.apache.spark.sql.Column, pos: Int,
                     n: Int): org.apache.spark.sql.Column =
    leUintAt(payload, lit(pos.toLong), n)

  /** Column-positioned variant, for walks whose cursor is computed
    * (the wavMeta chunk walk). Null when the read runs past the
    * payload or the cursor itself is null. */
  private def leUintAt(payload: org.apache.spark.sql.Column,
                       pos: org.apache.spark.sql.Column,
                       n: Int): org.apache.spark.sql.Column = {
    val h = concat((((n - 1) to 0 by -1): Range)
      .map(i => hex(payload.substr(pos + i, lit(1)))): _*)
    when(length(h) === n * 2, conv(h, 16, 10).cast("long"))
  }

  /** REAL audio metadata from the binary payload — pure column exprs,
    * the RIFF/WAVE analogue of [[mediaMeta]]'s PNG/IHDR path, now with
    * a REAL chunk walk (the mp4Meta box-walk idiom): after the
    * RIFF/WAVE magic, top-level chunks — (fourcc, LE size, data,
    * even-pad) — are walked for up to `maxChunks` hops, locating
    * `fmt ` and `data` wherever they sit among LIST/fact/cue chunks
    * instead of assuming the canonical 44-byte layout; field reads
    * (format tag, channels, sample rate, byte rate, bit depth) are
    * little-endian at offsets from the FOUND fmt chunk. `complete`
    * requires PCM (tag 1), bits ∈ {8, 16}, the data chunk fully
    * present, and sane divisors (channels ≥ 1, byteRate ≥ 1) so the
    * integer divisions can never hit an ANSI divide-by-zero; anything
    * else falls back to deterministic synthetic metadata, mirroring
    * the image path's contract. A corrupt size nulls the cursor and
    * the walk dies out, exactly like mp4Meta's. */
  def wavMeta(media: DataFrame, maxChunks: Int = 6): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isWav = hex(p.substr(lit(1), lit(4))) === "52494646" &&
      hex(p.substr(lit(9), lit(4))) === "57415645"
    // walk state per hop: cursor at the chunk's fourcc (1-based), plus
    // latched fmt-data / data-data offsets and the data size — all
    // stacked projections, one hop per column generation
    var df = media
      .withColumn("_cur0", when(isWav, lit(13L)))
      .withColumn("_fmt0", lit(null).cast("long"))
      .withColumn("_dat0", lit(null).cast("long"))
      .withColumn("_dsz0", lit(null).cast("long"))
    for (i <- 1 to maxChunks) {
      val cur = col(s"_cur${i - 1}")
      val cid = hex(p.substr(cur, lit(4)))
      val sz = leUintAt(p, cur + 4, 4)
      df = df
        .withColumn(s"_fmt$i",
          coalesce(col(s"_fmt${i - 1}"), when(cid === "666D7420", cur + 8)))
        .withColumn(s"_dat$i",
          coalesce(col(s"_dat${i - 1}"), when(cid === "64617461", cur + 8)))
        .withColumn(s"_dsz$i",
          coalesce(col(s"_dsz${i - 1}"), when(cid === "64617461", sz)))
        .withColumn(s"_cur$i",
          when(col(s"_fmt$i").isNotNull && col(s"_dat$i").isNotNull, cur)
            .otherwise(when(coalesce(sz >= 0, lit(false)), {
              // range-gated hop (the eXIf-walk rule): the size field is
              // untrusted — a next cursor that can't fit another 8-byte
              // chunk frame nulls out instead of overflowing the substr
              // int cast under ANSI
              val nxt = cur + 8 + sz + pmod(sz, lit(2))
              when(nxt + 7 <= len, nxt)
            })))
    }
    val fmtOff = col(s"_fmt$maxChunks")
    val staged = df
      .withColumn("_tag", leUintAt(p, fmtOff, 2))
      .withColumn("_ch", leUintAt(p, fmtOff + 2, 2))
      .withColumn("_rate", leUintAt(p, fmtOff + 4, 4))
      .withColumn("_br", leUintAt(p, fmtOff + 8, 4))
      .withColumn("_bits", leUintAt(p, fmtOff + 14, 2))
      .withColumn("_ds", col(s"_dsz$maxChunks"))
    val complete = coalesce(isWav, lit(false)) &&
      coalesce(col("_tag") === 1, lit(false)) && // PCM format tag
      coalesce(len >= col(s"_dat$maxChunks") - 1 + col("_ds"), lit(false)) &&
      // sane divisors, so the div expressions below can never hit an
      // ANSI divide-by-zero (when() short-circuits per row)
      coalesce(col("_ds") >= 1 && col("_br") >= 1 &&
        (col("_bits") === 8 || col("_bits") === 16) &&
        col("_ch") >= 1, lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_wav"),
      when(complete, col("_rate").cast("int"))
        .otherwise(lit(8000) + pmod(len, lit(5)) * 2000).as("sample_rate"),
      when(complete, col("_ch").cast("int"))
        .otherwise(lit(1) + pmod(len, lit(2))).as("n_channels"),
      when(complete, col("_bits").cast("int")).otherwise(lit(16)).as("bits"),
      when(complete, expr("_ds div (_ch * (_bits div 8))"))
        .otherwise((lit(64) + pmod(len * 7, lit(331))).cast("long")).as("n_samples"),
      when(complete, expr("(_ds * 1000) div _br"))
        .otherwise(pmod(len * 13, lit(10000)).cast("long")).as("duration_ms"))
  }

  /** The m5 gate: header metadata over the planted-WAV corpus. */
  def wavMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedWavs.Every): DataFrame =
    wavMeta(plantedWavMedia(spark, documents, every).toDF())

  /** The m6 gate: real PCM frame features over the planted-WAV corpus
    * (text rows take the stub fallback inside [[AutoDecoder]]). */
  def wavFramesPlanted(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedWavs.Every): DataFrame =
    decodedMedia(plantedWavMedia(spark, documents, every), AutoDecoder)

  /** Audio exact-duplicate pairs over decoded frame features — the audio
    * analogue of [[phashPairs]]' exact tier: each document's signature is
    * its full (frame_id, feat_mean, feat_dim) sequence in frame order,
    * and two documents pair iff the sequences are IDENTICAL (same decoded
    * content under the feature lens; re-encoded/renamed copies collapse,
    * which is what audio dedup at corpus scale means at the exact level).
    * One aggregation + one signature-keyed equi-join — the join shuffles
    * on a hash of the sequence, never on audio bytes, and no n² compare
    * exists. Feature doubles derive from integer sample formulas
    * identically in both engines (m6's hash-green run is the proof), so
    * array equality is exact.
    *
    * Pairing is restricted to the REAL-decode tier (the planted WAVs,
    * `doc_id % every == 0`) — the same tier policy as [[phashPairs]]'
    * `is_real = 1` gate: stub-fallback rows carry id-arithmetic
    * features, so letting them pair would report "duplicates" that are
    * artifacts of the stub formula's period (doc_ids 997 apart with
    * equal `len % 5`), not of any audio content. */
  def audioDupPairs(spark: SparkSession, documents: DataFrame,
                    every: Int = PlantedWavs.Every): DataFrame = {
    val fr = wavFramesPlanted(spark, documents, every)
      .filter(pmod(col("doc_id"), lit(every.toLong)) === 0)
    val sig = fr.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("frame_id"), col("feat_mean"),
        col("feat_dim")))).as("sig"), count(lit(1)).as("n_frames"))
    sig.select(col("doc_id").as("doc_a"), col("sig"), col("n_frames"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig2")),
        col("sig") === col("sig2") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col("n_frames").cast("int").as("n_frames"))
  }

  /** Deterministic planted NEAR-dup audio corpus for m30's landmark
    * gate: every 8th doc gets an 8-bit mono PCM WAV; within each group
    * of four planted docs (g = doc_id/32, v = (doc_id/8)%4) the first
    * three are variants of ONE master signal and the fourth is
    * unrelated:
    *   v=0  master verbatim — 32·(24 + g%8) samples,
    *        dev(i) = 2·(((g%127+1)·i² + 29·i + g·37) % 127 − 63)
    *        (the per-group QUADRATIC term is essential — see dev()'s
    *        scaladoc on the circular-shift degeneracy);
    *   v=1  TRIMMED copy: the first 2 + g%3 FRAMES dropped (frame-
    *        aligned trim — landmark offsets stay whole frames, the
    *        granularity a hop-based fingerprinter actually has);
    *   v=2  GAIN-HALVED copy: dev/2 exactly (master devs are all even,
    *        so halving is integer-exact, every frame feature halves
    *        EXACTLY in IEEE — scaling by a power of two never rounds —
    *        and peak structure + feature RATIOS are preserved
    *        bit-for-bit);
    *   v=3  unrelated:
    *        dev(i) = 2·(((doc_id%127+64)·i² + 53·i + doc_id·31) % 127 − 63)
    *        (distinct quadratic AND linear coefficients from the master;
    *        modulus 127 is coprime with the 32-per-group id stride, so
    *        unrelated signals don't recycle at small scale).
    * m10's exact-signature tier finds NONE of the v1/v2 copies — that
    * blind spot is exactly what this plant exists to exercise. */
  object PlantedAudioVariants {
    val Every = 8

    /** Planted per-sample deviation from the 8-bit midpoint (128).
      * The quadratic i² coefficient varies PER SEED (group for the
      * master, doc for unrelated): a linear-only formula would make
      * every signal a circular SHIFT of one base progression — mod-127
      * phase changes, same shape — and the landmark layer would
      * (correctly!) pair the whole corpus; the first cut did exactly
      * that, 1 235 "pairs" from 63 docs. Distinct quadratic
      * coefficients give structurally different series, and master vs
      * unrelated can never coincide even at equal quadratic residue
      * because the LINEAR coefficients (29 vs 53) always differ
      * mod 127. */
    def dev(docId: Long, i: Int): Int = {
      val g = docId / 32
      val m = ((g % 127 + 1) * i * i + 29L * i + g * 37) % 127 - 63
      (((docId / 8) % 4) match {
        case 2 => m
        case 3 => 2 * (((docId % 127 + 64) * i * i + 53L * i + docId * 31) % 127 - 63)
        case _ => 2 * m
      }).toInt
    }

    /** Frames dropped from the front for the v=1 trimmed copy. */
    def trimFrames(docId: Long): Int =
      if ((docId / 8) % 4 == 1) (2 + (docId / 32) % 3).toInt else 0

    def craftedWav(docId: Long): Array[Byte] = {
      val g = docId / 32
      val nFrames = (24 + g % 8).toInt - trimFrames(docId)
      val skip = trimFrames(docId) * 32
      val n = nFrames * 32
      val out = java.nio.ByteBuffer.allocate(44 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1)
        .putInt(8000).putInt(8000)
        .putShort(1).putShort(8)
        .put("data".getBytes("US-ASCII")).putInt(n)
      var i = 0
      while (i < n) {
        out.put((128 + dev(docId, skip + i)).toByte)
        i += 1
      }
      out.array()
    }
  }

  def plantedAudioVariantMedia(spark: SparkSession, documents: DataFrame,
      every: Int = PlantedAudioVariants.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedAudioVariants.craftedWav(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Audio NEAR-dup pairs via landmark (constellation) fingerprinting —
    * the public Shazam idiom (Wang 2003) at the frame-energy layer,
    * closing the modality gap the r14 verdict named: [[audioDupPairs]]
    * (m10) catches only byte-exact PCM copies, while a trimmed or
    * gain-shifted re-encode escapes it. Pipeline, all relational:
    *
    *  1. frame features from the REAL decode tier ([[WavPcmDecoder]]'s
    *     mean-|deviation| per 32-sample frame — integer sums, one IEEE
    *     division, the m6-proven oracle-replayable feature);
    *  2. PEAKS: frames that are strict local maxima over the per-doc
    *     series (`f > prev && f >= next`, both neighbours required — a
    *     one-window linear pass, no self-join). An anchor's feature is
    *     necessarily > 0, so the ratio quantisation below never
    *     divides by zero;
    *  3. LANDMARKS: each anchor peak + its next TWO peaks within 12
    *     frames, hashed on (dt1, dt2, q(f1/f0), q(f2/f0)) with
    *     q = min(4095, ⌊ratio·256⌋). Using time DELTAS makes the hash
    *     trim-invariant; using feature RATIOS makes it gain-invariant
    *     (an exact gain scale cancels in f1/f0 — and the planted
    *     half-gain copy cancels EXACTLY even in IEEE, because dividing
    *     both operands by 2 never rounds). Quantisation granularity is
    *     the robustness↔discrimination dial, and it was MEASURED, not
    *     assumed: a 32-sample mean-|dev| feature concentrates (CLT), so
    *     peak ratios crowd 1.0 and coarse ⌊ratio·16⌋ bins left ~30
    *     effective hash values — 205 cross-group phantom pairs against
    *     48 planted ones at sf0.01; ⌊ratio·256⌋ yields exactly the
    *     planted 48 with zero phantoms, and costs no recall here
    *     because the planted transforms are bit-exact invariants. (A
    *     deployment against lossy re-encodes would coarsen the bins
    *     and lean on the offset histogram below instead; d30's
    *     telemetry posture measures hot-hash skew if a real corpus
    *     misbehaves.)
    *  4. MATCH: equi-join landmark tables on the hash, count matches
    *     per (doc_a, doc_b, t0_a − t0_b) — requiring agreement on ONE
    *     offset is the constellation trick that turns weak individual
    *     hashes into a strong pair signal — keep each pair's dominant
    *     offset (deterministic tie-break: smaller offset), threshold
    *     at `minMatches`.
    *
    * Work ∝ landmarks (≈ peaks ≈ frames/3 per doc), shuffles on the
    * landmark hash and never on audio bytes; the per-pair count is a
    * map-side-combinable aggregation. Restricted to the real-decode
    * tier exactly like m10 (stub rows carry id-arithmetic features —
    * their "matches" would be plant-formula artifacts). */
  /** Real-decode frame features over the variant corpus — the m30
    * pipeline's first stage, public so the spec can prove the exact
    * tier (sequence equality over the SAME corpus) sees none of the
    * planted near-copies. */
  def audioVariantFrames(spark: SparkSession, documents: DataFrame,
                         every: Int = PlantedAudioVariants.Every): DataFrame =
    decodedMedia(plantedAudioVariantMedia(spark, documents, every), AutoDecoder)
      .filter(pmod(col("doc_id"), lit(every.toLong)) === 0)

  def audioLandmarkPairs(spark: SparkSession, documents: DataFrame,
                         every: Int = PlantedAudioVariants.Every,
                         minMatches: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = audioVariantFrames(spark, documents, every)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_id"))
    val pk = fr
      .withColumn("pf", lag(col("feat_mean"), 1).over(w))
      .withColumn("nf", lead(col("feat_mean"), 1).over(w))
      .filter(col("pf").isNotNull && col("nf").isNotNull &&
        col("feat_mean") > col("pf") && col("feat_mean") >= col("nf"))
      .select(col("doc_id"), col("frame_id").as("t0"), col("feat_mean").as("f0"))
    val pw = Window.partitionBy(col("doc_id")).orderBy(col("t0"))
    val lm = pk
      .withColumn("t1", lead(col("t0"), 1).over(pw))
      .withColumn("f1", lead(col("f0"), 1).over(pw))
      .withColumn("t2", lead(col("t0"), 2).over(pw))
      .withColumn("f2", lead(col("f0"), 2).over(pw))
      .filter(col("t2").isNotNull && col("t2") - col("t0") <= 12)
      .select(col("doc_id"), col("t0"),
        (((((col("t1") - col("t0")) * 17 + (col("t2") - col("t0"))) * 4096 +
          least(lit(4095L), floor(col("f1") / col("f0") * 256))) * 4096) +
          least(lit(4095L), floor(col("f2") / col("f0") * 256))).as("lm_hash"))
    val a = lm.select(col("doc_id").as("doc_a"), col("t0").as("ta"), col("lm_hash"))
    val b = lm.select(col("doc_id").as("doc_b"), col("t0").as("tb"), col("lm_hash"))
    val byOff = a.join(b, Seq("lm_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("ta") - col("tb")).as("offset_frames"))
      .agg(count(lit(1)).as("n_matched"))
    val rw = Window.partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("n_matched").desc, col("offset_frames"))
    byOff.withColumn("rn", row_number().over(rw))
      .filter(col("rn") === 1 && col("n_matched") >= minMatches)
      .select(col("doc_a"), col("doc_b"),
        col("offset_frames").cast("int").as("offset_frames"),
        col("n_matched").cast("int").as("n_matched"))
  }

  /** Deterministic planted OGG pages for m31's gate: every 8th doc gets
    * one complete Ogg page (RFC 3533) whose header fields are pure
    * functions of doc_id. Selectors use /8- and /16-based TIERS, never
    * raw docId%k (planted ids are ≡0 mod 8 — the r14 ADVICE aliasing
    * lesson), so all four header-type flag combinations, all five
    * segment counts and varying page sequences actually occur. The
    * segment TABLE is the format's point: payload length is the sum of
    * a variable-length run of lacing bytes — a fixed-offset reader
    * cannot even find the payload. */
  object PlantedOggs {
    val Every = 8

    def laces(docId: Long): Seq[Int] = {
      val nseg = (1 + (docId / 8) % 5).toInt
      (0 until nseg).map(i => ((docId / 8 + i * 7) % 255).toInt)
    }

    def craftedOgg(docId: Long): Array[Byte] = {
      val tier = ((docId / 8) % 4).toInt
      val hdrType = Array(2, 6, 1, 0)(tier) // bos | bos+eos | continued | none
      val ls = laces(docId)
      val payloadLen = ls.sum
      val bb = java.nio.ByteBuffer.allocate(27 + ls.length + payloadLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("OggS".getBytes("US-ASCII")).put(0.toByte).put(hdrType.toByte)
        .putLong(docId * 1000 + tier)                   // granule position
        .putInt(((docId / 8) % 65536 + 7).toInt)        // bitstream serial
        .putInt(((docId / 16) % 4).toInt)               // page sequence
        .putInt(0)                                      // CRC (not validated)
        .put(ls.length.toByte)
      ls.foreach(l => bb.put(l.toByte))
      var j = 0
      while (j < payloadLen) { bb.put(((docId + j) % 256).toByte); j += 1 }
      bb.array()
    }
  }

  def plantedOggMedia(spark: SparkSession, documents: DataFrame,
      every: Int = PlantedOggs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedOggs.craftedOgg(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL Ogg page-header parsing (RFC 3533) from the binary column —
    * the container the open audio/video codec family ships in (Vorbis,
    * Opus, Theora, FLAC-in-Ogg), completing the wrapper tier beside
    * gzip/zip/tar/zstd. Pure column exprs: capture-pattern validation,
    * version-0 check, the header-type flag bits (continued/bos/eos),
    * 64-bit LE granule position, serial, page sequence — and the
    * format's real parsing test, the SEGMENT TABLE: payload length is
    * the sum of `n_segments` lacing bytes (a HOF aggregate over the
    * table span — there is no fixed offset to the payload at all), and
    * `complete` requires the byte length to equal header + table +
    * laced payload exactly. Incomplete/non-Ogg rows degrade to
    * deterministic synthetic metadata — the contract of every media
    * path. */
  def oggMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isOgg = hex(p.substr(lit(1), lit(4))) === "4F676753" // "OggS"
    val staged = media
      .withColumn("_ver", beUint(p, lit(5L), 1))
      .withColumn("_ht", beUint(p, lit(6L), 1))
      .withColumn("_gran", leUint(p, 7, 8))
      .withColumn("_serial", leUint(p, 15, 4))
      .withColumn("_pseq", leUint(p, 19, 4))
      .withColumn("_nseg", beUint(p, lit(27L), 1))
      .withColumn("_paylen",
        when(col("_nseg").isNotNull && col("_nseg") >= 1,
          aggregate(sequence(lit(1L), col("_nseg")), lit(0L),
            (acc, i) => acc + conv(hex(p.substr((lit(27L) + i).cast("int"), lit(1))),
              16, 10).cast("long"))))
    val complete = coalesce(isOgg, lit(false)) &&
      coalesce(col("_ver") === 0, lit(false)) &&
      coalesce(col("_nseg") >= 1, lit(false)) &&
      coalesce(len.cast("long") === lit(27L) + col("_nseg") + col("_paylen"),
        lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_ogg"),
      when(complete, pmod(expr("_ht div 2"), lit(2L)).cast("int"))
        .otherwise(pmod(len, lit(2)).cast("int")).as("bos"),
      when(complete, pmod(expr("_ht div 4"), lit(2L)).cast("int"))
        .otherwise(pmod(len + 1, lit(2)).cast("int")).as("eos"),
      when(complete, col("_serial").cast("int"))
        .otherwise(pmod(len * 3, lit(65536)).cast("int")).as("serial"),
      when(complete, col("_pseq").cast("int"))
        .otherwise(pmod(len, lit(16)).cast("int")).as("page_seq"),
      when(complete, col("_gran"))
        .otherwise(pmod(len * 13, lit(100000)).cast("long")).as("granule"),
      when(complete, col("_nseg").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(7))).cast("int")).as("n_segments"),
      when(complete, col("_paylen"))
        .otherwise(pmod(len * 11, lit(999)).cast("long")).as("payload_len"))
  }

  def oggMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedOggs.Every): DataFrame =
    oggMeta(plantedOggMedia(spark, documents, every).toDF())

  /** Deterministic planted EBML headers (Matroska/WebM's framing layer,
    * RFC 8794) for m32's gate: every 8th doc gets a complete EBML
    * header whose seven child elements are pure functions of doc_id.
    * The parsing test is the VINT: element sizes are encoded at FORCED
    * NON-MINIMAL widths (1–3 bytes per child, rotating per element —
    * legal EBML, and exactly what a fixed-width or minimal-width-
    * assuming reader misparses). Selectors are /8-, /16- and /32-tiers
    * (the ADVICE aliasing lesson). */
  object PlantedEbmls {
    val Every = 8

    /** VINT with a FORCED width: value ORed under the width marker. */
    def vint(value: Long, w: Int): Array[Byte] = {
      val raw = value | (1L << (7 * w))
      (0 until w).map(i => ((raw >> (8 * (w - 1 - i))) & 0xFF).toByte).toArray
    }

    def docTypeOf(docId: Long): String =
      if ((docId / 8) % 2 == 0) "webm" else "matroska"

    def craftedEbml(docId: Long): Array[Byte] = {
      val k = docId / 8
      def w(i: Int) = (1 + (k + i) % 3).toInt
      def uintChild(id: Int, i: Int, v: Int): Array[Byte] =
        Array(((id >> 8) & 0xFF).toByte, (id & 0xFF).toByte) ++
          vint(1, w(i)) ++ Array(v.toByte)
      val dt = docTypeOf(docId).getBytes("US-ASCII")
      val children =
        uintChild(0x4286, 0, (1 + k % 2).toInt) ++            // EBMLVersion
        uintChild(0x42F7, 1, 1) ++                            // EBMLReadVersion
        uintChild(0x42F2, 2, 4) ++                            // EBMLMaxIDLength
        uintChild(0x42F3, 3, (4 + (docId / 16) % 5).toInt) ++ // EBMLMaxSizeLength
        (Array(0x42.toByte, 0x82.toByte) ++ vint(dt.length.toLong, w(4)) ++ dt) ++
        uintChild(0x4287, 5, (1 + (docId / 16) % 4).toInt) ++ // DocTypeVersion
        uintChild(0x4285, 6, (1 + (docId / 32) % 2).toInt)    // DocTypeReadVersion
      Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte) ++
        vint(children.length.toLong, (1 + k % 2 + 1).toInt) ++ children
    }
  }

  def plantedEbmlMedia(spark: SparkSession, documents: DataFrame,
      every: Int = PlantedEbmls.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedEbmls.craftedEbml(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL EBML header parsing (RFC 8794 — the Matroska/WebM framing
    * layer) from the binary column: the LAST big crawl container whose
    * structure is all VARIABLE-LENGTH INTEGERS — an element's size
    * field doesn't even have a fixed WIDTH (leading-zero count of the
    * first byte selects 1–8 bytes), so nothing after the 4-byte magic
    * sits at a fixed offset and a child's position depends on every
    * VINT before it. The walk: header-size VINT, then an unrolled
    * child-element walk (2-byte class IDs, VINT sizes up to width 4 —
    * wider degrades, documented bound) accumulating the seven header
    * fields by ID with coalesce chains; `complete` requires all seven
    * present AND the cursor to land exactly on the payload end.
    * Non-minimal size encodings (the plant forces them) parse
    * identically to minimal ones — the property a width-assuming
    * reader lacks. Incomplete/non-EBML rows degrade to deterministic
    * synthetic metadata. */
  def ebmlMeta(media: DataFrame, maxChildren: Int = 7): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isEbml = hex(p.substr(lit(1), lit(4))) === "1A45DFA3"
    def vintW(pos: org.apache.spark.sql.Column) = {
      val b = beUint(p, pos, 1)
      when(b >= 128, 1L).when(b >= 64, 2L).when(b >= 32, 3L).when(b >= 16, 4L)
    }
    def vintVal(pos: org.apache.spark.sql.Column,
                w: org.apache.spark.sql.Column) =
      when(w === 1, beUint(p, pos, 1) - (1L << 7))
        .when(w === 2, beUint(p, pos, 2) - (1L << 14))
        .when(w === 3, beUint(p, pos, 3) - (1L << 21))
        .when(w === 4, beUint(p, pos, 4) - (1L << 28))
    def uintAt(pos: org.apache.spark.sql.Column,
               n: org.apache.spark.sql.Column) =
      when(n === 1, beUint(p, pos, 1)).when(n === 2, beUint(p, pos, 2))
        .when(n === 3, beUint(p, pos, 3)).when(n === 4, beUint(p, pos, 4))
    val hw = vintW(lit(5L))
    var df = media
      .withColumn("_pos0", when(isEbml, lit(5L) + hw))
      .withColumn("_ver0", lit(null).cast("long"))
      .withColumn("_rver0", lit(null).cast("long"))
      .withColumn("_mid0", lit(null).cast("long"))
      .withColumn("_msz0", lit(null).cast("long"))
      .withColumn("_dt0", lit(null).cast("string"))
      .withColumn("_dtv0", lit(null).cast("long"))
      .withColumn("_dtrv0", lit(null).cast("long"))
    for (i <- 1 to maxChildren) {
      val pos = col(s"_pos${i - 1}")
      // every per-hop intermediate is MATERIALIZED as its own column
      // before anything references it: sw feeds sz/vp/value reads and
      // an inlined form would be duplicated ~6× per hop — over 7 hops
      // that is EXPONENTIAL expression growth, measured as a janino
      // 64KB method blowup (whole-stage codegen fell back to the
      // interpreter on the first cut of this walk)
      df = df
        .withColumn(s"_id$i", beUint(p, pos, 2))
        .withColumn(s"_sw$i", vintW(pos + 2))
        .withColumn(s"_sz$i", vintVal(pos + 2, col(s"_sw$i")))
        .withColumn(s"_vp$i", pos + 2 + col(s"_sw$i"))
        // the value read appears ONCE per hop — six uint fields each
        // inlining the 4-branch read was the second half of the blowup
        .withColumn(s"_val$i", uintAt(col(s"_vp$i"), col(s"_sz$i")))
      val id = col(s"_id$i"); val sz = col(s"_sz$i"); val vp = col(s"_vp$i")
      def keep(prev: String, idHex: Long) =
        coalesce(col(s"$prev${i - 1}"), when(id === idHex, col(s"_val$i")))
      df = df
        .withColumn(s"_ver$i", keep("_ver", 0x4286L))
        .withColumn(s"_rver$i", keep("_rver", 0x42F7L))
        .withColumn(s"_mid$i", keep("_mid", 0x42F2L))
        .withColumn(s"_msz$i", keep("_msz", 0x42F3L))
        .withColumn(s"_dt$i", coalesce(col(s"_dt${i - 1}"),
          when(id === 0x4282L && sz >= 1 && sz <= 16,
            p.substr(vp.cast("int"), sz.cast("int")).cast("string"))))
        .withColumn(s"_dtv$i", keep("_dtv", 0x4287L))
        .withColumn(s"_dtrv$i", keep("_dtrv", 0x4285L))
        .withColumn(s"_pos$i", vp + sz)
    }
    val n = maxChildren
    val complete = coalesce(isEbml, lit(false)) &&
      col(s"_ver$n").isNotNull && col(s"_rver$n").isNotNull &&
      col(s"_mid$n").isNotNull && col(s"_msz$n").isNotNull &&
      col(s"_dt$n").isNotNull && col(s"_dtv$n").isNotNull &&
      col(s"_dtrv$n").isNotNull &&
      coalesce(col(s"_pos$n") - 1 === len.cast("long"), lit(false))
    df.select(
      col("doc_id"),
      complete.cast("int").as("is_ebml"),
      when(complete, col(s"_ver$n").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(2))).cast("int")).as("version"),
      when(complete, col(s"_rver$n").cast("int"))
        .otherwise(lit(1)).as("read_version"),
      when(complete, col(s"_mid$n").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(4))).cast("int")).as("max_id_len"),
      when(complete, col(s"_msz$n").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(8))).cast("int")).as("max_size_len"),
      when(complete, col(s"_dt$n")).otherwise(lit("none")).as("doc_type"),
      when(complete, col(s"_dtv$n").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(5))).cast("int")).as("doc_type_version"),
      when(complete, col(s"_dtrv$n").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(3))).cast("int")).as("doc_type_read_version"))
  }

  def ebmlMetaPlanted(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedEbmls.Every): DataFrame =
    ebmlMeta(plantedEbmlMedia(spark, documents, every).toDF())

  /** Deterministic planted SQLite headers for m33's gate: every 8th doc
    * gets the 100-byte database header with fields as /8- and /16-tier
    * functions of doc_id. One tier plants the format's documented
    * quirk: page_size is a BIG-ENDIAN u16 where the value 1 means
    * 65536 (the only page size that doesn't fit 16 bits) — a reader
    * without the rule reports a 1-byte page. */
  object PlantedSqlites {
    val Every = 8

    def pageSizeOf(docId: Long): Int = {
      val t = ((docId / 8) % 5).toInt
      if (t == 4) 65536 else 512 << t // 512, 1024, 2048, 4096, 65536
    }

    def craftedSqlite(docId: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(100)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      bb.put("SQLite format 3".getBytes("US-ASCII")).put(0.toByte)
      val ps = pageSizeOf(docId)
      bb.putShort((if (ps == 65536) 1 else ps).toShort)
      bb.put((1 + (docId / 16) % 2).toByte)       // write version (legacy/WAL)
        .put((1 + (docId / 32) % 2).toByte)       // read version
      bb.position(28)
      bb.putInt((10 + docId % 990).toInt)          // page count
      bb.position(56)
      bb.putInt((1 + (docId / 8) % 3).toInt)       // text encoding 1..3
      bb.putInt((docId % 1000).toInt)              // user version
      bb.array()
    }
  }

  def plantedSqliteMedia(spark: SparkSession, documents: DataFrame,
      every: Int = PlantedSqlites.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedSqlites.craftedSqlite(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL SQLite database-header parsing from the binary column — the
    * embedded-database file every device/app crawl surfaces (browser
    * profiles, app state, telemetry exports). Pure column exprs over
    * the 100-byte header: the 16-byte magic, the big-endian page size
    * WITH the documented 1-means-65536 rule (the only page size that
    * doesn't fit u16 — a reader without the rule reports a 1-byte
    * page; one plant tier forces it), write/read file-format versions
    * (legacy=1 / WAL=2, validated ≤ 2), the in-header page count, the
    * text encoding (1=UTF-8, 2=UTF-16le, 3=UTF-16be, validated), and
    * the user version. Non-SQLite / truncated rows degrade to
    * deterministic synthetic metadata — the media-path contract. */
  def sqliteMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isSq = hex(p.substr(lit(1), lit(16))) ===
      "53514C69746520666F726D6174203300"
    val staged = media
      .withColumn("_psRaw", beUint(p, lit(17L), 2))
      .withColumn("_wv", beUint(p, lit(19L), 1))
      .withColumn("_rv", beUint(p, lit(20L), 1))
      .withColumn("_pc", beUint(p, lit(29L), 4))
      .withColumn("_enc", beUint(p, lit(57L), 4))
      .withColumn("_uv", beUint(p, lit(61L), 4))
      .withColumn("_ps", when(col("_psRaw") === 1, lit(65536L))
        .otherwise(col("_psRaw")))
    // valid SQLite page sizes are POWERS OF TWO in [512, 32768] (plus
    // the 65536 sentinel) — a bare multiple-of-512 test would bless
    // 1536/2560/… corrupt headers with a bogus page_size (r15 ADVICE)
    val psOk = col("_ps") === 65536L ||
      (col("_ps") >= 512L && col("_ps") <= 32768L &&
        col("_ps").bitwiseAND(col("_ps") - 1) === 0)
    val complete = coalesce(isSq, lit(false)) &&
      coalesce(psOk, lit(false)) &&
      coalesce(col("_wv").between(1, 2) && col("_rv").between(1, 2), lit(false)) &&
      coalesce(col("_enc").between(1, 3), lit(false)) &&
      coalesce(len >= 100, lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_sqlite"),
      when(complete, col("_ps")).otherwise(
        element_at(array(lit(512L), lit(1024L), lit(2048L), lit(4096L),
          lit(8192L)), pmod(len, lit(5)).cast("int") + 1))
        .as("page_size"),
      when(complete, col("_wv").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(2))).cast("int")).as("write_version"),
      when(complete, col("_rv").cast("int"))
        .otherwise((lit(1) + pmod(len * 3, lit(2))).cast("int")).as("read_version"),
      when(complete, col("_pc"))
        .otherwise(pmod(len * 7, lit(1000)).cast("long")).as("page_count"),
      when(complete, col("_enc").cast("int"))
        .otherwise((lit(1) + pmod(len, lit(3))).cast("int")).as("encoding"),
      when(complete, col("_uv"))
        .otherwise(pmod(len * 11, lit(1000)).cast("long")).as("user_version"))
  }

  def sqliteMetaPlanted(spark: SparkSession, documents: DataFrame,
                        every: Int = PlantedSqlites.Every): DataFrame =
    sqliteMeta(plantedSqliteMedia(spark, documents, every).toDF())

  /** REAL GIF metadata from the binary payload — pure column exprs, the
    * GIF87a/89a analogue of [[wavMeta]]: magic validation, little-endian
    * logical-screen width/height, the packed flags byte (global-color-
    * table flag + size exponent), background index, and a length check
    * covering header + full GCT + trailer. `complete` requires both
    * dims ≥ 1 so planted/real files always parse and truncated ones
    * fall back to deterministic synthetic metadata — the same contract
    * as every other media path. */
  def gifMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val magic = hex(p.substr(lit(1), lit(6)))
    val isGif = magic === "474946383961" || magic === "474946383761" // GIF89a | GIF87a
    val staged = media
      .withColumn("_w", leUint(p, 7, 2))
      .withColumn("_h", leUint(p, 9, 2))
      .withColumn("_packed", beUint(p, lit(11L), 1))
      .withColumn("_bg", beUint(p, lit(12L), 1))
    val hasGct = col("_packed") >= 128 // bit 7
    val entries = when(hasGct,
      pow(lit(2.0), (pmod(col("_packed"), lit(8L)) + 1).cast("double")).cast("int"))
      .otherwise(lit(0))
    val withE = staged.withColumn("_entries", entries)
    val complete = coalesce(isGif, lit(false)) &&
      coalesce(col("_w") >= 1 && col("_h") >= 1, lit(false)) &&
      coalesce(len >= lit(13) + lit(3) * col("_entries") + 1, lit(false))
    withE.select(
      col("doc_id"),
      complete.cast("int").as("is_gif"),
      when(complete, col("_w").cast("int"))
        .otherwise((lit(32) + pmod(len * 3, lit(613))).cast("int")).as("width"),
      when(complete, col("_h").cast("int"))
        .otherwise((lit(32) + pmod(len * 11, lit(479))).cast("int")).as("height"),
      when(complete, col("_entries")).otherwise(lit(0)).as("gct_entries"),
      when(complete, col("_bg").cast("int"))
        .otherwise(pmod(len, lit(256)).cast("int")).as("bg_index"))
  }

  /** REAL BMP metadata from the binary payload — pure column exprs, the
    * Windows-bitmap analogue of [[gifMeta]]: `BM` magic, the 40-byte
    * BITMAPINFOHEADER (the overwhelmingly common DIB — other DIB sizes
    * fall back rather than misparse), little-endian width, SIGNED
    * little-endian height (negative height is the canon top-down row
    * order — reported as `top_down` with the magnitude as `height`),
    * plane/bpp validation, and a length check against the pixel-data
    * offset. Incomplete/non-BMP rows degrade to deterministic synthetic
    * metadata — the same contract as every media path. */
  def bmpMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isBm = hex(p.substr(lit(1), lit(2))) === "424D"
    val staged = media
      .withColumn("_off", leUint(p, 11, 4))
      .withColumn("_dib", leUint(p, 15, 4))
      .withColumn("_w", leUint(p, 19, 4))
      .withColumn("_hraw", leUint(p, 23, 4))
      .withColumn("_planes", leUint(p, 27, 2))
      .withColumn("_bpp", leUint(p, 29, 2))
      .withColumn("_h", when(col("_hraw") > 2147483647L,
        col("_hraw") - 4294967296L).otherwise(col("_hraw")))
    val complete = coalesce(isBm, lit(false)) &&
      coalesce(col("_dib") === 40, lit(false)) &&
      coalesce(col("_w").between(1, 65535), lit(false)) &&
      coalesce(abs(col("_h")).between(1, 65535), lit(false)) &&
      coalesce(col("_planes") === 1, lit(false)) &&
      coalesce(col("_bpp").isInCollection(Seq(1L, 4L, 8L, 16L, 24L, 32L)),
        lit(false)) &&
      coalesce(len >= col("_off"), lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_bmp"),
      when(complete, col("_w").cast("int"))
        .otherwise((lit(16) + pmod(len * 5, lit(509))).cast("int")).as("width"),
      when(complete, abs(col("_h")).cast("int"))
        .otherwise((lit(16) + pmod(len * 7, lit(389))).cast("int")).as("height"),
      when(complete, col("_bpp").cast("int")).otherwise(lit(24)).as("bpp"),
      when(complete, (col("_h") < 0).cast("int")).otherwise(lit(0)).as("top_down"))
  }

  /** REAL TIFF metadata from the binary payload — pure column exprs,
    * and the one media format whose HEADER DECLARES ITS OWN ENDIANNESS
    * (`II` little / `MM` big): every multi-byte read below dispatches
    * per row on the byte-order mark, where BMP/GIF/WAV are fixed-LE and
    * PNG/MP4 fixed-BE. The walk: endian magic 42, 4-byte IFD offset
    * (TIFF offsets are 0-based — +1 everywhere for 1-based substr),
    * entry count, then an unrolled scan of up to `maxEntries` 12-byte
    * IFD entries extracting ImageWidth(256) / ImageLength(257) /
    * BitsPerSample(258); SHORT values read from the left-justified
    * first two bytes of the value field, LONG values from all four —
    * both in the file's declared order. `complete` requires the magic,
    * ≥1 entry, the full IFD + next-pointer in range, and sane dims;
    * anything else (truncated, text bytes, width tag past the unrolled
    * window) degrades to deterministic synthetic metadata — the
    * standard media-path contract. */
  def tiffMeta(media: DataFrame, maxEntries: Int = 8): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val bo = hex(p.substr(lit(1), lit(2)))
    // the endianness flag is MATERIALIZED once: inlined it rides inside
    // every u2/u4 read (~30 copies of the hex-substr tree across the
    // 8-entry walk) and the single whole-stage consume method crosses
    // janino's size limit — measured as a suite-log "Failed to compile"
    // falling back to interpreted execution (the m32 lesson, same round)
    val isLE = col("_le")
    val isBE = bo === "4D4D"
    def u2(pos: org.apache.spark.sql.Column) =
      when(isLE, leUintAt(p, pos, 2)).otherwise(beUint(p, pos, 2))
    def u4(pos: org.apache.spark.sql.Column) =
      when(isLE, leUintAt(p, pos, 4)).otherwise(beUint(p, pos, 4))
    val staged = media
      .withColumn("_le", bo === "4949")
      .withColumn("_magic", u2(lit(3L)))
      .withColumn("_ifd", u4(lit(5L)))
      .withColumn("_cnt", u2(col("_ifd") + 1))
    val withTags = (0 until maxEntries).foldLeft(staged) { (df, i) =>
      val base = col("_ifd") + 3 + i * 12
      df.withColumn(s"_tag$i", when(lit(i) < col("_cnt"), u2(base)))
        .withColumn(s"_ty$i", when(lit(i) < col("_cnt"), u2(base + 2)))
        .withColumn(s"_val$i",
          when(col(s"_ty$i") === 3, u2(base + 8))
            .when(col(s"_ty$i") === 4, u4(base + 8)))
    }
    def tagVal(tag: Int): org.apache.spark.sql.Column =
      coalesce((0 until maxEntries).map(i =>
        when(col(s"_tag$i") === tag, col(s"_val$i"))): _*)
    val parsed = withTags
      .withColumn("_w", tagVal(256))
      .withColumn("_h", tagVal(257))
      .withColumn("_bits", coalesce(tagVal(258), lit(1L))) // TIFF default 1
    val complete = coalesce(isLE || isBE, lit(false)) &&
      coalesce(col("_magic") === 42, lit(false)) &&
      coalesce(col("_cnt") >= 1, lit(false)) &&
      coalesce(len >= col("_ifd") + 2 + col("_cnt") * 12 + 4, lit(false)) &&
      coalesce(col("_w").between(1, 1000000) &&
        col("_h").between(1, 1000000), lit(false))
    parsed.select(
      col("doc_id"),
      complete.cast("int").as("is_tiff"),
      when(complete, isLE.cast("int")).otherwise(lit(0)).as("little_endian"),
      when(complete, col("_w").cast("int"))
        .otherwise((lit(16) + pmod(len * 3, lit(521))).cast("int")).as("width"),
      when(complete, col("_h").cast("int"))
        .otherwise((lit(16) + pmod(len * 5, lit(431))).cast("int")).as("height"),
      when(complete, col("_bits").cast("int")).otherwise(lit(8)).as("bits_per_sample"))
  }

  /** REAL ID3v2 (MP3 tag) metadata from the binary payload — pure
    * column exprs, and the format whose size field is a SYNCSAFE
    * integer: 7 bits per byte with the high bit always clear, so a
    * naive 4-byte big-endian read MISPARSES every tag ≥ 128 bytes (the
    * plant's sizes all are — the gate would go red if the decode were
    * skipped). Walk: "ID3" magic, version/revision/flags bytes, the
    * four size bytes each validated < 128 then recombined as
    * b₁·2²¹ + b₂·2¹⁴ + b₃·2⁷ + b₄, and a length check covering header
    * + tag body. Non-ID3 / truncated rows fall back to deterministic
    * synthetic metadata — the media contract. */
  def id3Meta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isId3 = hex(p.substr(lit(1), lit(3))) === "494433"
    val staged = media
      .withColumn("_ver", beUint(p, lit(4L), 1))
      .withColumn("_b1", beUint(p, lit(7L), 1))
      .withColumn("_b2", beUint(p, lit(8L), 1))
      .withColumn("_b3", beUint(p, lit(9L), 1))
      .withColumn("_b4", beUint(p, lit(10L), 1))
    val syncOk = col("_b1") < 128 && col("_b2") < 128 &&
      col("_b3") < 128 && col("_b4") < 128
    val size = col("_b1") * 2097152 + col("_b2") * 16384 +
      col("_b3") * 128 + col("_b4")
    val withSize = staged.withColumn("_sz", size)
    val complete = coalesce(isId3, lit(false)) &&
      coalesce(col("_ver").between(2, 4), lit(false)) &&
      coalesce(syncOk, lit(false)) &&
      coalesce(len >= lit(10) + col("_sz"), lit(false))
    withSize.select(
      col("doc_id"),
      complete.cast("int").as("is_id3"),
      when(complete, col("_ver").cast("int")).otherwise(lit(0)).as("version"),
      when(complete, col("_sz").cast("int"))
        .otherwise((lit(64) + pmod(len * 9, lit(887))).cast("int")).as("tag_size"))
  }

  /** The m13 gate: ID3v2 syncsafe metadata over the planted corpus. */
  def id3MetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedId3s.Every): DataFrame =
    id3Meta(plantedId3Media(spark, documents, every).toDF())

  /** The m12 gate: endian-aware TIFF metadata over the planted-TIFF
    * corpus. */
  def tiffMetaPlanted(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedTiffs.Every): DataFrame =
    tiffMeta(plantedTiffMedia(spark, documents, every).toDF())

  /** The m11 gate: BMP header metadata over the planted-BMP corpus. */
  def bmpMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedBmps.Every): DataFrame =
    bmpMeta(plantedBmpMedia(spark, documents, every).toDF())

  /** The m8 gate: GIF screen-descriptor metadata over the planted-GIF
    * corpus. */
  def gifMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedGifs.Every): DataFrame =
    gifMeta(plantedGifMedia(spark, documents, every).toDF())

  /** REAL video-container metadata from the binary payload — pure
    * column exprs, the ISO-BMFF (MP4) analogue of [[mediaMeta]]'s JPEG
    * segment walk: `ftyp` validation + major-brand read, then an
    * unrolled TOP-LEVEL box walk (size-prefixed boxes, cursor advances
    * by each box's 32-bit big-endian size) to the `moov` box, whose
    * first child must be the version-0 `mvhd` movie header — timescale
    * and duration are 4-byte big-endian reads at fixed offsets from the
    * moov position. Video FRAME decoding stays in the declared stub
    * tier (no codecs in the JVM); the container metadata tier is real.
    * `complete` additionally requires timescale ≥ 1 so the duration
    * division can never hit an ANSI divide-by-zero; anything
    * unparseable falls back to deterministic synthetic metadata,
    * mirroring the image/audio paths' contract.
    *
    * Layout coverage: 32-bit box sizes AND `size == 1` 64-bit
    * largesize boxes (how real >4 GiB mdat is laid out) are walked;
    * both version-0 and version-1 (64-bit ctime/mtime/duration) mvhd
    * headers parse. Remaining canon restrictions: `size == 0`
    * (box-to-EOF) ends the walk, and `mvhd` must be `moov`'s first
    * child (the overwhelmingly common layout, though the spec permits
    * any order). Files outside this fall back to synthetic metadata
    * rather than misparse. */
  def mp4Meta(media: DataFrame, maxBoxes: Int = 6): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isFtyp = coalesce(beUint(p, lit(1L), 4) >= 16, lit(false)) &&
      hex(p.substr(lit(5), lit(4))) === "66747970" // 'ftyp'
    // walk: cursor at each top-level box's size field (1-based); box
    // type at pos+4; next = pos + size, where size is the 32-bit field
    // OR — when that field is 1 — the 64-bit LARGESIZE at pos+8 (how
    // real >4 GiB mdat boxes are laid out). A corrupt size (< 8, or
    // largesize < 16) or a read past the payload nulls the cursor and
    // the walk dies out — `found` stays false and the row falls back.
    var df = media
      .withColumn("_mp4", isFtyp)
      .withColumn("_found0", lit(false))
      .withColumn("_pos0", when(isFtyp, lit(1L) + beUint(p, lit(1L), 4)))
    for (i <- 1 to maxBoxes) {
      val pos = col(s"_pos${i - 1}")
      val found = col(s"_found${i - 1}")
      val isMoov = coalesce(hex(p.substr(pos + 4, lit(4))) === "6D6F6F76", lit(false))
      val sz32 = beUint(p, pos, 4)
      val sz = when(sz32 === 1,
          when(coalesce(beUint(p, pos + 8, 8) >= 16, lit(false)), beUint(p, pos + 8, 8)))
        .otherwise(when(coalesce(sz32 >= 8, lit(false)), sz32))
      df = df
        .withColumn(s"_found$i", found || isMoov)
        .withColumn(s"_pos$i", when(col(s"_found$i"), pos).otherwise(pos + sz))
    }
    val moov = col(s"_pos$maxBoxes")
    // moov's own header may be 8 (32-bit size) or 16 (largesize) bytes;
    // mvhd is the first child either way
    val hdr = when(beUint(p, moov, 4) === 1, lit(16L)).otherwise(lit(8L))
    val ver = beUint(p, moov + hdr + 8, 1)
    val mvhdOk = col(s"_found$maxBoxes") &&
      coalesce(hex(p.substr(moov + hdr + 4, lit(4))) === "6D766864", lit(false)) && // 'mvhd'
      coalesce(ver === 0 || ver === 1, lit(false))
    // version 0: 32-bit ctime/mtime, ts at +20, 32-bit dur at +24 (from
    // the mvhd body); version 1: 64-bit ctime/mtime, ts at +28, 64-bit
    // dur at +32 — offsets below are from moov's size field
    val staged = df
      .withColumn("_ok", col("_mp4") && mvhdOk)
      .withColumn("_ts", when(ver === 1, beUintInt(p, moov + hdr + 28, 4))
        .otherwise(beUintInt(p, moov + hdr + 20, 4)))
      .withColumn("_dur", when(ver === 1, beUint(p, moov + hdr + 32, 8))
        .otherwise(beUint(p, moov + hdr + 24, 4)))
    val complete = col("_ok") &&
      coalesce(col("_ts") >= 1 && col("_dur").isNotNull, lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_mp4"),
      when(complete, p.substr(lit(9), lit(4)).cast("string"))
        .otherwise(lit("none")).as("major_brand"),
      when(complete, col("_ts"))
        .otherwise((lit(600) + pmod(len, lit(7)) * 150).cast("int")).as("timescale"),
      when(complete, col("_dur"))
        .otherwise(pmod(len * 11, lit(99991)).cast("long")).as("duration"),
      when(complete, expr("(_dur * 1000) div _ts"))
        .otherwise(pmod(len * 17, lit(60000)).cast("long")).as("duration_ms"))
  }

  /** The m7 gate: container metadata over the planted-MP4 corpus. */
  def mp4MetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedMp4s.Every): DataFrame =
    mp4Meta(plantedMp4Media(spark, documents, every).toDF())

  /** SOFn marker bytes (all frame-header types: C0-C3, C5-C7, C9-CB,
    * CD-CF — everything but DHT/DAC/RST). */
  private val JpegSofTypes: Seq[Long] =
    Seq(0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF).map(_.toLong)

  /** Metadata extraction from the binary payload — pure column exprs.
    *
    * REAL header parsing for the two ubiquitous image containers:
    * PNG (signature + IHDR width/height at fixed offsets, per the PNG
    * spec the IHDR chunk is always first) and JPEG (FF D8 then a
    * variable-length segment walk to the first SOFn frame header —
    * unrolled to `maxJpegSegments` steps as STACKED projections, each
    * step's cursor/found state materialized once per row; Catalyst keeps
    * multi-referenced non-cheap producers stacked, see SURVEY §5).
    * Payloads with any other magic fall back to the deterministic
    * synthetic metadata (the sandbox corpus is text bytes, which can
    * never carry the PNG/JPEG magic — real parsing is spec-gated on
    * crafted byte literals in TextMultimodalSpec). */
  def mediaMeta(documents: DataFrame, maxJpegSegments: Int = 12): DataFrame = {
    val withBin = documents.select(col("doc_id"), col("text").cast("binary").as("payload"))
    val p = col("payload")
    val len = octet_length(p)
    val isPng = hex(p.substr(lit(1), lit(8))) === "89504E470D0A1A0A" &&
                hex(p.substr(lit(13), lit(4))) === "49484452"
    val isJpeg = hex(p.substr(lit(1), lit(2))) === "FFD8"
    // JPEG segment walk: cursor at the segment's FF byte (1-based);
    // FF ty LL LL payload... → next = pos + 2 + be16(pos+2)
    var df = withBin
      .withColumn("_png", isPng)
      .withColumn("_jpg", isJpeg)
      .withColumn("_found0", lit(false))
      .withColumn("_pos0", when(isJpeg, lit(3L)))
    for (i <- 1 to maxJpegSegments) {
      val pos = col(s"_pos${i - 1}")
      val found = col(s"_found${i - 1}")
      val isSof = coalesce(beUint(p, pos + 1, 1).isin(JpegSofTypes: _*), lit(false))
      df = df
        .withColumn(s"_found$i", found || isSof)
        .withColumn(s"_pos$i", when(col(s"_found$i"), pos)
          .otherwise(pos + lit(2) + coalesce(beUint(p, pos + 2, 2), lit(0L))))
    }
    val found = col(s"_found$maxJpegSegments")
    val sof = col(s"_pos$maxJpegSegments")
    // SOF layout from the FF byte: FF Cn LL LL precision H H W W
    val jpegOk = col("_jpg") && found
    df.select(
        col("doc_id"),
        len.as("byte_len"),
        hex(p.substr(lit(1), lit(2))).as("magic_hex"),
        when(col("_png") || col("_jpg"), lit("image"))
          .otherwise(element_at(array(lit("image"), lit("audio"), lit("video")),
            pmod(len, lit(3)) + 1)).as("media_type"),
        // coalesce, not just the when-chain: a payload truncated INSIDE
        // the IHDR/SOF header makes beUint null — that row must fall
        // back to the synthetic dims like any other unparseable payload
        coalesce(
          when(col("_png"), beUintInt(p, lit(17), 4))
            .when(jpegOk, beUint(p, sof + 7, 2).cast("int")),
          lit(64) + pmod(len, lit(577))).as("width"),
        coalesce(
          when(col("_png"), beUintInt(p, lit(21), 4))
            .when(jpegOk, beUint(p, sof + 5, 2).cast("int")),
          lit(64) + pmod(len * 31, lit(331))).as("height"),
        when(col("_png") || jpegOk, lit(1))
          .otherwise(lit(1) + pmod(len, lit(5))).as("n_frames"))
  }

  private def decodedMedia(media: Dataset[MediaIn],
                           decoder: MediaDecoder): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val dec = decoder // per-partition binding; a real codec would init here
      it.flatMap(dec.frames)
    }.toDF()
  }

  private def decodedFrames(spark: SparkSession, documents: DataFrame,
                            decoder: MediaDecoder): DataFrame = {
    import spark.implicits._
    decodedMedia(
      documents.select(col("doc_id"), col("text").cast("binary").as("payload")).as[MediaIn],
      decoder)
  }

  /** Decode → per-frame features through the typed mapPartitions path.
    * Default decoder routes by magic to the REAL tiers (WAV PCM,
    * ImageIO) with the stub fallback inside. */
  def mediaFrames(spark: SparkSession, documents: DataFrame,
                  decoder: MediaDecoder = AutoDecoder): DataFrame =
    decodedFrames(spark, documents, decoder)

  /** The m2 gate path: plant real PNGs into the corpus, decode them with
    * the real ImageIO decoder — planted rows exercise true pixel decode
    * under the full hash oracle, text rows take the stub fallback. */
  def mediaFramesPlanted(spark: SparkSession, documents: DataFrame,
                         every: Int = PlantedImages.Every): DataFrame =
    decodedMedia(plantedMedia(spark, documents, every), ImageIoDecoder)

  /** Joint text+media curation gate in ONE scan: the text-quality score
    * and the media metadata both derive from the same row, so the gate
    * is a single projection — no per-signal sub-pipelines, no doc_id
    * join-back shuffle (the two-DataFrame composition would exchange the
    * corpus once per signal at 100 TB). Keep = quality ≥ minQuality AND
    * frame count ≤ maxFrames — the standard "text good, media cheap
    * enough to process" admission rule of a multimodal training mix. */
  def mediaTextGate(documents: DataFrame, maxFrames: Int = 4,
                    minQuality: Int = 2): DataFrame = {
    val len = octet_length(col("text").cast("binary"))
    documents
      .withColumn("_toks", graft.functions.ColumnFns.tokens(col("text")))
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          pmod(len, lit(3)) + 1).as("media_type"),
        (lit(1) + pmod(len, lit(5))).as("n_frames"),
        TextOps.qualityScoreCol(col("text"), col("_toks")).as("quality_score"))
      .withColumn("keep",
        (col("quality_score") >= minQuality && col("n_frames") <= maxFrames).cast("int"))
  }

  /** Frame-level near-dup buckets: decoded frame features quantized into
    * `buckets` bands; frames landing in the same band across documents
    * are dedup candidates (the perceptual-hash bucketing shape — with a
    * real decoder the feature would be a pHash/embedding, and the
    * downstream exact-verify joins within buckets exactly like the text
    * LSH family). Decode is map-side; one shuffle on the band key. */
  def frameDedup(spark: SparkSession, documents: DataFrame,
                 decoder: MediaDecoder = AutoDecoder, buckets: Int = 32): DataFrame =
    decodedFrames(spark, documents, decoder)
      .select(floor(col("feat_mean") * buckets).cast("int").as("bucket"), col("doc_id"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_frames"), countDistinct(col("doc_id")).as("n_docs"))

  /** Difference-hash (dHash, the public perceptual-hash family) of one
    * payload: REAL tier decodes the image through the same
    * magic-gate → header-dims bomb guard → ImageIO path as
    * [[ImageIoDecoder]], reduces to integer luminance `(r+g+b)/3`,
    * nearest-neighbor samples a 9×8 grid and emits bit `y·8+x` = 1 iff
    * the right neighbor is brighter — near-identical images land within
    * a few Hamming bits. Undecodable payloads take the deterministic
    * stub tier (`((id·31 + i·7) % 997) % 2`) — degrade, never abort.
    * The 64 bits are packed as two 32-bit halves in BIGINTs: a single
    * `1 << 63` overflows engines that check shifts, two halves replay
    * everywhere and Hamming distance is `bit_count(hi⊕hi') +
    * bit_count(lo⊕lo')`. Returns (is_real, hi, lo). */
  private[graft] def phashBits(docId: Long,
                                   payload: Array[Byte]): (Int, Long, Long) = {
    val gray = ImageIoDecoder.decodeGray(payload)
    var hi = 0L; var lo = 0L
    gray match {
      case Some(g) =>
        val h = g.length; val w = g(0).length
        def d(x: Int, y: Int): Int = g((y * h) / 8)((x * w) / 9)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (d(x + 1, y) > d(x, y)) {
              val idx = y * 8 + x
              if (idx < 32) lo |= 1L << idx else hi |= 1L << (idx - 32)
            }
            x += 1
          }
          y += 1
        }
        (1, hi, lo)
      case None =>
        var i = 0
        while (i < 64) {
          if (((docId * 31 + i * 7) % 997) % 2 == 1) {
            if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
          }
          i += 1
        }
        (0, hi, lo)
    }
  }

  /** Per-document perceptual hash table over the planted-media corpus —
    * the image-side analogue of the MinHash signature table: persist it
    * once, then near-dup pairs are a band-bucket join over hash chunks
    * (the [[graft.operators.Dedup]] SimHash idiom) plus a Hamming
    * verify, never an image-by-image compare. Typed map — one decode
    * per payload, no shuffle. */
  def imagePhash(spark: SparkSession, documents: DataFrame,
                 every: Int = PlantedImages.Every): DataFrame = {
    import spark.implicits._
    plantedMedia(spark, documents, every)
      .map { m =>
        val (r, hi, lo) = phashBits(m.doc_id, m.payload)
        (m.doc_id, r, hi, lo)
      }
      .toDF("doc_id", "is_real", "phash_hi", "phash_lo")
  }

  /** Near-duplicate image pairs over an [[imagePhash]] signature table:
    * the 64-bit hash splits into four 16-bit chunks; by pigeonhole, two
    * hashes within Hamming distance 3 share at least one chunk
    * UNCHANGED, so a chunk-keyed equi-join (the SimHash banding idiom)
    * has FULL recall at `maxHamming` ≤ 3 — candidates then verify by
    * exact popcount. Only real-decode rows participate (stub-tier bit
    * patterns are id arithmetic, not content). Shuffle is on (chunk id,
    * chunk value); no image-by-image compare, no n² — the 100 TB shape
    * of visual dedup.
    *
    * Skew at scale: near-constant images (flat color, black frames)
    * all carry chunk value 0, and that one bucket quadratically
    * dominates the candidate join — `maxBucket` > 0 drops buckets
    * above the cap (the MinHash skew-guard idiom; costs recall ONLY
    * on what it drops). The gate runs uncapped: the planted corpus has
    * no degenerate buckets, so the brute-force oracle equality holds. */
  /** Real-tier (doc_id, hi, lo) projection shared by the pair ops. */
  private def realSigs(phashes: DataFrame): DataFrame =
    phashes.filter(col("is_real") === 1)
      .select(col("doc_id"), col("phash_hi"), col("phash_lo"))

  /** 16-bit chunk rows (doc_id, c, v) of a signature frame. */
  private def phashChunks(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(array(
        struct(lit(0).as("c"),
          shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xFFFFL)).as("v")),
        struct(lit(1).as("c"), col("phash_hi").bitwiseAND(lit(0xFFFFL)).as("v")),
        struct(lit(2).as("c"),
          shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xFFFFL)).as("v")),
        struct(lit(3).as("c"), col("phash_lo").bitwiseAND(lit(0xFFFFL)).as("v"))))
        .as("ch"))
      .select(col("doc_id"), col("ch.c").as("c"), col("ch.v").as("v"))

  /** Hamming verify of a candidate pair set against a signature frame. */
  private def hammingVerified(cand: DataFrame, sigs: DataFrame,
                              maxHamming: Int): DataFrame =
    cand
      .join(sigs.select(col("doc_id").as("doc_a"),
        col("phash_hi").as("ha"), col("phash_lo").as("la")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"),
        col("phash_hi").as("hb"), col("phash_lo").as("lb")), "doc_b")
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
         bit_count(col("la").bitwiseXOR(col("lb")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  def phashPairs(phashes: DataFrame, maxHamming: Int = 3,
                 maxBucket: Int = 0): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding only guarantees recall to Hamming 3")
    val sigs = realSigs(phashes)
    val allChunks = phashChunks(sigs)
    val chunks =
      if (maxBucket <= 0) allChunks
      else Dedup.capBuckets(allChunks, Seq("c", "v"), maxBucket)
    val cand = chunks.join(
        chunks.select(col("doc_id").as("doc_b"), col("c").as("c2"), col("v").as("v2")),
        col("c") === col("c2") && col("v") === col("v2") &&
        col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b")).distinct()
    hammingVerified(cand, sigs, maxHamming)
  }

  /** Incremental visual dedup — the ingest posture of [[phashPairs]]
    * (the d11 MinHash shape brought to the image side): a NEW batch of
    * signatures probes the PERSISTED corpus phash table, returning
    * exactly the [[phashPairs]] result of corpus ∪ batch RESTRICTED to
    * pairs touching the batch (batch-vs-corpus and batch-vs-batch;
    * corpus-internal pairs were found when the corpus was built —
    * spec-asserted equality). The corpus is never re-decoded and never
    * self-joined: its stored signatures are chunk-exploded (a
    * projection) and probed by the batch's chunks only. Doc ids must be
    * globally unique — the append-only id contract. */
  def phashIncremental(corpusPhashes: DataFrame, batchPhashes: DataFrame,
                       maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding only guarantees recall to Hamming 3")
    val cs = realSigs(corpusPhashes)
    val bs = realSigs(batchPhashes)
    val allSigs = cs.union(bs)
    val probe = phashChunks(bs)
    val build = phashChunks(allSigs)
    val cand = probe.select(col("c"), col("v"), col("doc_id").as("probe_id"))
      .join(build.select(col("c").as("c2"), col("v").as("v2"),
          col("doc_id").as("build_id")),
        col("c") === col("c2") && col("v") === col("v2") &&
        col("probe_id") =!= col("build_id"))
      .select(least(col("probe_id"), col("build_id")).as("doc_a"),
        greatest(col("probe_id"), col("build_id")).as("doc_b"))
      .distinct()
    hammingVerified(cand, allSigs, maxHamming)
  }

  /** Visual near-dup CLUSTERS — the pairs→clusters completion for the
    * image modality (text and embedding pairs have had their cluster
    * tables since d6/d9/d10; visual pairs stopped at d22): the
    * Hamming-verified phash pair set becomes an edge list and the
    * shared pair-source-agnostic connected-components core assigns
    * every REAL-tier signature its component's min doc_id (stub-tier
    * rows are id arithmetic, not content — they never pair and are
    * not cluster members, the d22 contract). Everything downstream of
    * the pair set is the same size-gated CC machinery every other
    * modality uses — one code path, four modalities. */
  def phashClusters(phashes: DataFrame, maxHamming: Int = 3): DataFrame =
    graft.operators.Dedup.duplicateClustersFrom(
        realSigs(phashes).select(col("doc_id").as("vec_id")),
        phashPairs(phashes, maxHamming)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("vec_id").as("doc_id"), col("cluster_id"))

  object PlantedJpegs {
    val Every = 8

    /** Minimal real JPEG: SOI, JFIF APP0, a luminance DQT whose 64
      * quant values are a doc_id formula over a doc_id-chosen modulus
      * (4/34/64 by doc_id%3 — spreading the quant MEAN across all
      * three quality bands), a second chroma DQT on %16==0 docs (the
      * n_dqt=2 case), a 3-component SOF0 with big-endian dims, EOI.
      * Everything a formula of doc_id so the oracle replays the parse
      * relationally (the m11/m12/m13 plant contract). */
    def craftedJpeg(docId: Long): Array[Byte] = {
      val twoTables = docId % 16 == 0
      val m = (4 + (docId % 3) * 30).toInt
      val size = 2 + 18 + 69 + (if (twoTables) 69 else 0) + 19 + 2
      val out = java.nio.ByteBuffer.allocate(size) // BE — JPEG's order
      out.put(0xFF.toByte).put(0xD8.toByte)             // SOI
      out.put(0xFF.toByte).put(0xE0.toByte).putShort(16.toShort) // APP0
      out.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      out.put(1.toByte).put(1.toByte).put(0.toByte)     // ver 1.1, units
      out.putShort(1.toShort).putShort(1.toShort)       // densities
      out.put(0.toByte).put(0.toByte)                   // no thumbnail
      def dqt(tq: Int, f: Int => Int): Unit = {
        out.put(0xFF.toByte).put(0xDB.toByte).putShort(67.toShort)
        out.put(tq.toByte)                              // Pq=0 | Tq
        (0 until 64).foreach(i => out.put(f(i).toByte))
      }
      dqt(0, i => 1 + ((docId * 7 + i * 3) % m).toInt)
      if (twoTables) dqt(1, i => 1 + ((docId * 5 + i * 11) % 80).toInt)
      out.put(0xFF.toByte).put(0xC0.toByte).putShort(17.toShort) // SOF0
      out.put(8.toByte)                                 // precision
      out.putShort((24 + docId % 37).toShort)           // height BE
      out.putShort((24 + docId % 43).toShort)           // width BE
      out.put(3.toByte)                                 // 3 components
      out.put(1.toByte).put(0x22.toByte).put(0.toByte)  // Y  → table 0
      out.put(2.toByte).put(0x11.toByte).put(1.toByte)  // Cb → table 1
      out.put(3.toByte).put(0x11.toByte).put(1.toByte)  // Cr → table 1
      out.put(0xFF.toByte).put(0xD9.toByte)             // EOI
      out.array()
    }
  }

  object PlantedZips {
    val Every = 8

    /** Minimal real ZIP: a run of local-file-header entries (the PK0304
      * signature, LE version/method/sizes/name-length fields, the name,
      * then exactly comp_size filler data bytes). 2 entries, 3 on
      * %16==0 docs; names, methods (stored/deflate alternating) and
      * sizes are doc_id formulas. No central directory on purpose —
      * the operator is the STREAMING local-header walk (see
      * [[zipMeta]]'s scaladoc for why that is the contract). */
    def craftedZip(docId: Long): Array[Byte] = {
      val nEntries = if (docId % 16 == 0) 3 else 2
      def name(i: Int) = s"doc${docId}_$i.txt"
      def comp(i: Int) = (8 + (docId * 3 + i * 5) % 40).toInt
      def uncomp(i: Int) = comp(i) + (docId % 30).toInt
      val total = (0 until nEntries).map(i => 30 + name(i).length + comp(i)).sum
      val out = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until nEntries).foreach { i =>
        out.put(0x50.toByte).put(0x4B.toByte).put(0x03.toByte).put(0x04.toByte)
        out.putShort(20.toShort)                         // version needed
        out.putShort(0.toShort)                          // flags
        out.putShort((if (i % 2 == 0) 8 else 0).toShort) // deflate/stored
        out.putInt(0)                                    // modtime+date
        out.putInt(0)                                    // crc (filler)
        out.putInt(comp(i))
        out.putInt(uncomp(i))
        out.putShort(name(i).length.toShort)
        out.putShort(0.toShort)                          // extra len
        out.put(name(i).getBytes("US-ASCII"))
        var b = 0
        while (b < comp(i)) { out.put(((docId + i * 7 + b) % 256).toByte); b += 1 }
      }
      out.array()
    }
  }

  /** Documents with planted real-ZIP payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedZipMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedZips.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedZips.craftedZip(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL ZIP container entry framing from the binary column — the
    * archive front door of a document pipeline (EPUBs, DOCX, bulk
    * exports and site dumps all ARRIVE as ZIP; the per-entry listing
    * is what routes members to the right extractor): an unrolled
    * LOCAL-FILE-HEADER walk — PK\\x03\\x04 signature, little-endian
    * method/size/name-length fields, cursor += 30 + name + extra +
    * comp_size — deliberately the STREAMING shape (reading the central
    * directory needs the file END; a 100 TB archive feed is processed
    * as bytes arrive, exactly like every streaming unzipper, at the
    * documented cost of not seeing directory-only metadata). One row
    * per entry: ordinal, member name, method (0 stored / 8 deflate),
    * compressed/uncompressed sizes and the byte-exact DATA OFFSET
    * (m14's provenance posture — a downstream extractor can substr
    * the member without re-walking). Non-ZIP payloads emit no rows
    * (the c55 sparse-ingest contract; m14 is the audit-view analogue).
    * Pure column exprs + one struct-array explode; no shuffle, no
    * UDF. Data-descriptor entries (flag bit 3: sizes AFTER the data)
    * have comp_size 0 in the header and stop the walk — surfaced,
    * never misparsed. */
  def zipMeta(media: DataFrame, maxEntries: Int = 4): DataFrame = {
    val p = col("payload")
    var m0 = media.withColumn("_z0", lit(1L))
    for (j <- 0 until maxEntries) {
      val k = col(s"_z$j")
      m0 = m0
        .withColumn(s"_sig$j", hex(p.substr(k.cast("int"), lit(4))) === "504B0304")
        .withColumn(s"_mth$j", leUintAt(p, k + 8, 2))
        .withColumn(s"_cmp$j", leUintAt(p, k + 18, 4))
        .withColumn(s"_unc$j", leUintAt(p, k + 22, 4))
        .withColumn(s"_nln$j", leUintAt(p, k + 26, 2))
        .withColumn(s"_xln$j", leUintAt(p, k + 28, 2))
        .withColumn(s"_nm$j",
          p.substr((k + 30).cast("int"), col(s"_nln$j").cast("int")).cast("string"))
        // range-gated hop (the beUintInt posture): comp_size is an
        // untrusted 4-byte field up to 2^32-1, so an adversarial header
        // could push the cursor past Int.MaxValue and blow the next
        // iteration's int cast under ANSI. A cursor beyond the payload
        // can't host another 30-byte header anyway — null it and the
        // walk degrades to no-more-entries instead of crashing the job.
        .withColumn(s"_z${j + 1}", {
          val nxt = k + 30 + col(s"_nln$j") + col(s"_xln$j") + col(s"_cmp$j")
          when(nxt + 29 <= octet_length(p).cast("long"), nxt)
        })
    }
    val entries = array((0 until maxEntries).map(j =>
      when(coalesce(col(s"_sig$j"), lit(false)) &&
           col(s"_cmp$j").isNotNull && col(s"_nm$j").isNotNull,
        struct(col(s"_nm$j").as("name"),
          col(s"_mth$j").cast("int").as("method"),
          col(s"_cmp$j").as("comp_size"),
          col(s"_unc$j").as("uncomp_size"),
          (col(s"_z$j") + 30 + col(s"_nln$j") + col(s"_xln$j"))
            .as("data_offset")))): _*)
    m0.select(col("doc_id"), posexplode(filter(entries, e => e.isNotNull))
        .as(Seq("entry_idx", "e")))
      .select(col("doc_id"), col("entry_idx").cast("int").as("entry_idx"),
        col("e.name").as("name"), col("e.method").as("method"),
        col("e.comp_size").as("comp_size"),
        col("e.uncomp_size").as("uncomp_size"),
        col("e.data_offset").as("data_offset"))
  }

  /** The m19 gate: ZIP entry framing over the planted corpus. */
  def zipMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedZips.Every): DataFrame =
    zipMeta(plantedZipMedia(spark, documents, every).toDF())

  object PlantedTars {
    val Every = 8
    def entryName(docId: Long, i: Int) = s"f${docId}_$i.txt"
    def entrySize(docId: Long, i: Int) = (10 + (docId * 7 + i * 13) % 600).toInt

    /** Minimal real POSIX ustar archive: per entry a 512-byte header
      * (NUL-padded name, OCTAL mode/uid/gid, the 11-octal-digit size
      * field, typeflag '0', `ustar` magic at offset 257) followed by
      * the data padded to the next 512 boundary; two zero end-blocks.
      * 2 entries, 3 on %16==0 docs; names and sizes are doc_id
      * formulas (sizes up to 609 bytes so multi-block data padding is
      * exercised). Checksums are filler — the walk is length-driven
      * (the PNG CRC posture). */
    def craftedTar(docId: Long): Array[Byte] = {
      val n = if (docId % 16 == 0) 3 else 2
      def pad512(x: Int) = ((x + 511) / 512) * 512
      val total = (0 until n).map(i => 512 + pad512(entrySize(docId, i))).sum + 1024
      val out = java.nio.ByteBuffer.allocate(total) // zero-initialized
      (0 until n).foreach { i =>
        val hdr = new Array[Byte](512)
        def put(off: Int, s: String): Unit = {
          val b = s.getBytes("US-ASCII")
          System.arraycopy(b, 0, hdr, off, b.length)
        }
        put(0, entryName(docId, i))
        put(100, "0000644"); put(108, "0001750"); put(116, "0001750")
        put(124, f"${entrySize(docId, i).toLong}%011o")
        put(136, "00000000000")
        put(148, "        ")          // checksum: filler, not validated
        put(156, "0")                 // regular file
        put(257, "ustar"); put(263, "00")
        out.put(hdr)
        val data = new Array[Byte](pad512(entrySize(docId, i)))
        (0 until entrySize(docId, i)).foreach(b =>
          data(b) = ((docId + i * 3 + b) % 256).toByte)
        out.put(data)
      }
      out.array()
    }
  }

  /** Documents with planted real-TAR payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedTarMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedTars.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedTars.craftedTar(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL TAR (POSIX ustar) entry framing from the binary column — the
    * other half of the archive front door next to [[zipMeta]] (bulk
    * corpus drops, HF dataset exports and crawl deliveries ship as
    * .tar): an unrolled 512-byte-block header walk whose distinctive
    * format reality is the OCTAL ASCII size field — parsed with
    * `conv(digits, 8, 10)` after a leading-space/NUL-tolerant octal
    * extract (a decimal read of `00000001750` would be off 552 bytes
    * and desync every later entry — the m13 syncsafe lesson at the
    * archive layer); entries validate on the `ustar` magic at header
    * offset 257, the cursor advances 512 + data rounded UP to the next
    * 512 boundary, and the two zero end-blocks fail the magic check
    * and stop the walk naturally. One row per entry with the
    * byte-exact data offset (the m14/m19 provenance posture); non-TAR
    * payloads emit no rows. Pure column exprs + one struct-array
    * explode; no shuffle, no UDF. */
  def tarMeta(media: DataFrame, maxEntries: Int = 4): DataFrame = {
    val p = col("payload")
    var m0 = media.withColumn("_t0", lit(1L))
    for (j <- 0 until maxEntries) {
      val k = col(s"_t$j")
      m0 = m0
        .withColumn(s"_tm$j",
          p.substr((k + 257).cast("int"), lit(5)).cast("string") === "ustar")
        .withColumn(s"_tn$j", substring_index(
          p.substr(k.cast("int"), lit(100)).cast("string"), "\u0000", 1))
        .withColumn(s"_ts$j", conv(regexp_extract(
          p.substr((k + 124).cast("int"), lit(12)).cast("string"),
          "^ *([0-7]+)", 1), 8, 10).cast("long"))
        .withColumn(s"_tf$j",
          p.substr((k + 156).cast("int"), lit(1)).cast("string"))
        // range-gated hop: the octal size field admits values up to
        // 8^11-1 (~8.6e9), far past Int.MaxValue — a corrupt header
        // would overflow the next iteration's int cast under ANSI. A
        // cursor that can't fit another 512-byte header nulls out and
        // the walk stops cleanly (corrupt entry → no rows, not a crash).
        .withColumn(s"_t${j + 1}", {
          val nxt = k + 512 + expr(s"((_ts$j + 511) div 512) * 512")
          when(nxt + 511 <= octet_length(p).cast("long"), nxt)
        })
    }
    val entries = array((0 until maxEntries).map(j =>
      when(coalesce(col(s"_tm$j"), lit(false)) &&
           col(s"_ts$j").isNotNull && col(s"_tn$j") =!= "",
        struct(col(s"_tn$j").as("name"),
          col(s"_ts$j").as("size"),
          col(s"_tf$j").as("typeflag"),
          (col(s"_t$j") + 512).as("data_offset")))): _*)
    m0.select(col("doc_id"), posexplode(filter(entries, e => e.isNotNull))
        .as(Seq("entry_idx", "e")))
      .select(col("doc_id"), col("entry_idx").cast("int").as("entry_idx"),
        col("e.name").as("name"), col("e.size").as("size"),
        col("e.typeflag").as("typeflag"),
        col("e.data_offset").as("data_offset"))
  }

  /** The m21 gate: TAR entry framing over the planted corpus. */
  def tarMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedTars.Every): DataFrame =
    tarMeta(plantedTarMedia(spark, documents, every).toDF())

  /** Deterministic planted gzip members for m27's gate: every
    * `every`-th doc gets a real RFC 1952 member whose header fields are
    * pure doc_id formulas. Four variants by (doc_id/8)%4 cover the
    * optional-field walk: 0 = bare header, 1 = FNAME, 2 = FEXTRA (a
    * VARIABLE-length subfield that defeats fixed-offset name readers) +
    * FNAME, 3 = FEXTRA + FNAME + FCOMMENT + FHCRC. The deflate body is
    * opaque filler (the parser reports framing, never inflates); the
    * trailer carries formula CRC32/ISIZE so a parser that misreads the
    * member END (not just its head) hash-fails. */
  object PlantedGzips {
    val Every = 8

    def craftedGzip(docId: Long): Array[Byte] = {
      val v = ((docId / 8) % 4).toInt
      val flg = Array(0, 8, 12, 30)(v)       // FNAME=8 FEXTRA=4 FCOMMENT=16 FHCRC=2
      // /8-based tiers: planted ids are ≡0 (mod 8), so a raw docId%k
      // selector only ever hits the even residues (the ICO-bpp lesson)
      val xlen = (4 + (docId / 8) % 6 * 2).toInt
      val name = s"f$docId.txt"
      val bodyN = (10 + docId % 20).toInt
      val cap = 10 + (if (v >= 2) 2 + xlen else 0) +
        (if (v >= 1) name.length + 1 else 0) +
        (if (v == 3) 2 + 2 else 0) + bodyN + 8
      val bb = java.nio.ByteBuffer.allocate(cap)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(0x1f.toByte).put(0x8b.toByte).put(8.toByte).put(flg.toByte)
      bb.putInt((1600000000L + docId % 100000).toInt)
      bb.put(2.toByte).put(((docId / 8) % 14).toByte)
      if (v >= 2) {
        bb.putShort(xlen.toShort)
        (0 until xlen).foreach(j => bb.put(((docId + j) % 256).toByte))
      }
      if (v >= 1) {
        bb.put(name.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        bb.put(0.toByte)
      }
      if (v == 3) {
        bb.put('c'.toByte).put(0.toByte)
        bb.put((docId % 256).toByte).put(((docId / 256) % 256).toByte)
      }
      (0 until bodyN).foreach(j => bb.put(((docId * 7 + j) % 256).toByte))
      // putInt of the wrapped unsigned value writes the same 4 LE bytes
      bb.putInt(((docId * 2654435761L) % 4294967296L).toInt)
      bb.putInt((docId % 100000 + 50).toInt)
      bb.array()
    }
  }

  def plantedGzipMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedGzips.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedGzips.craftedGzip(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL gzip (RFC 1952) member framing from the binary column — the
    * compression wrapper a crawl actually ships (WARC payloads, .gz
    * corpus drops, sitemap.xml.gz): magic/CM gate, the FLG bit walk
    * over the OPTIONAL fields in their mandated order (FEXTRA's LE16
    * length is the one exact skip; FNAME is a NUL-terminated scan —
    * the TAR substring_index idiom), the member TRAILER read from the
    * payload END (CRC32 + ISIZE, the uncompressed-size-mod-2³² field
    * that lets a router budget inflation without inflating). Range
    * gates everywhere a length field is untrusted: a hostile XLEN past
    * the payload nulls the name cursor, a missing NUL nulls the name,
    * reserved FLG bits refuse the member — all fall back to the
    * deterministic synthetic tier instead of throwing (the m25 ANSI
    * lesson). Pure column exprs, map-only; the deflate body is never
    * touched. */
  def gzipMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val staged = media
      .withColumn("_len", octet_length(p).cast("long"))
      .withColumn("_isgz", hex(p.substr(lit(1), lit(2))) === "1F8B" &&
        hex(p.substr(lit(3), lit(1))) === "08")
      .withColumn("_flg", leUint(p, 4, 1))
      .withColumn("_mtime", leUint(p, 5, 4))
      .withColumn("_os", leUint(p, 10, 1))
      .withColumn("_fextra", pmod(expr("_flg div 4"), lit(2)) === 1)
      .withColumn("_fname", pmod(expr("_flg div 8"), lit(2)) === 1)
      .withColumn("_fcomment", pmod(expr("_flg div 16"), lit(2)) === 1)
      .withColumn("_fhcrc", pmod(expr("_flg div 2"), lit(2)) === 1)
      .withColumn("_xlen",
        when(col("_fextra"), leUintAt(p, lit(11L), 2)).otherwise(lit(0L)))
      // range-gated cursor to the FNAME region: an untrusted XLEN that
      // pushes past the payload nulls out (never a wild substr)
      .withColumn("_nc", {
        val c = lit(11L) + when(col("_fextra"), col("_xlen") + 2).otherwise(lit(0L))
        when(c <= col("_len"), c)
      })
      .withColumn("_nwin",
        when(col("_fname") && col("_nc").isNotNull,
          p.substr(col("_nc"), lit(256)).cast("string")))
      .withColumn("_name",
        when(instr(col("_nwin"), "\u0000") > 0,
          substring_index(col("_nwin"), "\u0000", 1)))
      .withColumn("_crc", leUintAt(p, col("_len") - 7, 4))
      .withColumn("_isize", leUintAt(p, col("_len") - 3, 4))
    val complete = coalesce(
      col("_isgz") && col("_flg") < 32 && col("_len") >= 18 &&
        col("_mtime").isNotNull &&
        (!col("_fextra") || col("_nc").isNotNull) &&
        (!col("_fname") || col("_name").isNotNull) &&
        col("_crc").isNotNull && col("_isize").isNotNull,
      lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_gzip"),
      when(complete, col("_mtime"))
        .otherwise(pmod(col("_len") * 31, lit(1000000L))).as("mtime"),
      when(complete, col("_os").cast("int")).otherwise(lit(255)).as("os"),
      when(complete, col("_xlen").cast("int")).otherwise(lit(0)).as("n_extra"),
      when(complete && col("_fname"), col("_name"))
        .otherwise(lit("none")).as("fname"),
      when(complete, col("_fcomment").cast("int")).otherwise(lit(0)).as("has_comment"),
      when(complete, col("_fhcrc").cast("int")).otherwise(lit(0)).as("has_hcrc"),
      when(complete, col("_crc"))
        .otherwise(pmod(col("_len") * 17, lit(65536L))).as("crc32"),
      when(complete, col("_isize")).otherwise(col("_len")).as("isize"))
  }

  /** The m27 gate: gzip member framing over the planted corpus. */
  def gzipMetaPlanted(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedGzips.Every): DataFrame =
    gzipMeta(plantedGzipMedia(spark, documents, every).toDF())

  /** Deterministic planted ELF headers for m28's gate: every `every`-th
    * doc gets a real ELF ident + header whose class (32/64-bit), byte
    * order (LE/BE), OS ABI, object type, machine and entry point are
    * doc_id formulas — all FOUR class×endian layouts occur, so a parser
    * that assumes little-endian x86-64 (the only thing a laptop ever
    * sees) hash-fails on the BE and 32-bit variants. */
  object PlantedElfs {
    val Every = 8

    def craftedElf(docId: Long): Array[Byte] = {
      val cls = (1 + (docId / 8) % 2).toInt
      val dat = (1 + (docId / 16) % 2).toInt
      val size = if (cls == 1) 52 else 64
      val bb = java.nio.ByteBuffer.allocate(size)
        .order(if (dat == 1) java.nio.ByteOrder.LITTLE_ENDIAN
               else java.nio.ByteOrder.BIG_ENDIAN)
      bb.put(0x7f.toByte).put('E'.toByte).put('L'.toByte).put('F'.toByte)
      bb.put(cls.toByte).put(dat.toByte).put(1.toByte)
      // /8- and /16-based tiers: planted ids are ≡0 (mod 8), so raw
      // docId%4 selectors would pin osabi=0 / e_type=1 forever
      bb.put(((docId / 16) % 4 * 3).toByte)    // EI_OSABI: 0/3/6/9
      bb.position(16)                          // abiversion + pad stay 0
      bb.putShort((1 + (docId / 8) % 4).toShort) // e_type: REL/EXEC/DYN/CORE
      bb.putShort(Array(3, 40, 62, 183, 243)((docId % 5).toInt).toShort)
      bb.putInt(1)                             // e_version
      val entry = 0x400000L + docId % 65536
      if (cls == 1) bb.putInt(entry.toInt) else bb.putLong(entry)
      bb.array()                               // rest (phoff…shstrndx) zeroed
    }
  }

  def plantedElfMedia(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedElfs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedElfs.craftedElf(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL ELF header metadata from the binary column — the
    * executable/shared-object detector a CODE-corpus pipeline routes
    * on (The-Stack-class curation drops compiled artifacts; a crawl
    * carries them mislabeled as text): magic gate, then the format's
    * defining reality — EI_CLASS picks the 32/64-bit layout and
    * EI_DATA picks the BYTE ORDER of every multi-byte field after the
    * ident, so e_type/e_machine/e_entry are read through an
    * endian-dispatching pair (the TIFF m12 lesson at the executable
    * layer) and the entry width itself follows the class. `complete`
    * requires sane class/data/version bytes, a full-header payload and
    * a range-gated entry (a hostile 8-byte entry must fall back, never
    * overflow under ANSI); anything else gets the deterministic
    * synthetic tier. Pure column exprs, map-only. */
  def elfMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p).cast("long")
    def rd(pos: Int, n: Int, isLe: org.apache.spark.sql.Column) =
      when(isLe, leUint(p, pos, n)).otherwise(beUint(p, lit(pos.toLong), n))
    val staged = media
      .withColumn("_elf", hex(p.substr(lit(1), lit(4))) === "7F454C46")
      .withColumn("_cls", leUint(p, 5, 1))
      .withColumn("_le", leUint(p, 6, 1) === 1)
      .withColumn("_be", leUint(p, 6, 1) === 2)
      .withColumn("_eiv", leUint(p, 7, 1))
      .withColumn("_osabi", leUint(p, 8, 1))
      .withColumn("_etype", rd(17, 2, col("_le")))
      .withColumn("_mach", rd(19, 2, col("_le")))
      .withColumn("_ever", rd(21, 4, col("_le")))
      // the 64-bit entry reads as two 4-byte halves (endian decides
      // which is which) and requires the high half ZERO — conv of a
      // full 16-hex-digit value exceeds Long and would ANSI-throw on a
      // hostile payload (the adversarial-spec case); a real entry past
      // 2³² falls back, matching the range gate below
      .withColumn("_entry", when(col("_cls") === 1, rd(25, 4, col("_le")))
        .otherwise({
          val lo = when(col("_le"), leUintAt(p, lit(25L), 4))
            .otherwise(beUint(p, lit(29L), 4))
          val hi = when(col("_le"), leUintAt(p, lit(29L), 4))
            .otherwise(beUint(p, lit(25L), 4))
          when(hi === 0, lo)
        }))
    val complete = coalesce(
      col("_elf") && (col("_cls") === 1 || col("_cls") === 2) &&
        (col("_le") || col("_be")) && col("_eiv") === 1 &&
        col("_ever") === 1 &&
        len >= when(col("_cls") === 1, lit(52L)).otherwise(lit(64L)) &&
        col("_entry").between(0L, 1L << 31),
      lit(false))
    staged.select(
      col("doc_id"),
      complete.cast("int").as("is_elf"),
      when(complete, (col("_cls") * 32).cast("int"))
        .otherwise((lit(32) + pmod(len, lit(2)) * 32).cast("int")).as("bits"),
      when(complete && col("_be"), lit("BE")).otherwise(lit("LE")).as("endian"),
      when(complete, col("_osabi").cast("int")).otherwise(lit(255)).as("osabi"),
      when(complete, col("_etype").cast("int"))
        .otherwise(pmod(len, lit(5)).cast("int")).as("e_type"),
      when(complete, col("_mach").cast("int"))
        .otherwise(pmod(len, lit(300)).cast("int")).as("machine"),
      when(complete, col("_entry"))
        .otherwise(pmod(len * 4096, lit(16777216L))).as("entry"))
  }

  /** The m28 gate: ELF header metadata over the planted corpus. */
  def elfMetaPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedElfs.Every): DataFrame =
    elfMeta(plantedElfMedia(spark, documents, every).toDF())

  /** Deterministic planted zstd frames for m29's gate (RFC 8878): four
    * descriptor variants cover every field-width the header can take —
    * v0 single-segment + 1-byte content size, v1 windowed + 2-byte FCS
    * (the +256 rule) + 2-byte dict id + checksum, v2 windowed + 4-byte
    * FCS + 1-byte dict id, v3 windowed + 8-byte FCS (a content size
    * past 2³², exercising the two-half combine) + 4-byte dict id +
    * checksum. Compressed body is opaque filler. */
  object PlantedZstds {
    val Every = 8

    def craftedZstd(docId: Long): Array[Byte] = {
      val v = ((docId / 8) % 4).toInt
      val bodyN = (6 + docId % 18).toInt
      val bb = java.nio.ByteBuffer.allocate(64)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(0x28.toByte).put(0xB5.toByte).put(0x2F.toByte).put(0xFD.toByte)
      v match {
        case 0 =>
          bb.put(0x20.toByte)                       // ss=1, fcs code 0
          bb.put((docId % 200).toByte)              // 1-byte content size
        case 1 =>
          bb.put(0x46.toByte)                       // code1 | checksum | dict2
          // mantissa from a /32 tier (planted ids ≡0 mod 8, so a raw
          // docId%8 mantissa is ALWAYS zero and the mantissa term of
          // the window rule would never be exercised)
          bb.put(((docId % 5) * 8 + (docId / 32) % 8).toByte)  // window descriptor
          bb.putShort((docId % 65536).toShort)      // dict id
          bb.putShort((300 + docId % 1000 - 256).toShort) // FCS − 256
        case 2 =>
          bb.put(0x81.toByte)                       // code2 | dict1
          bb.put(((docId % 5) * 8 + (docId / 32) % 8).toByte)
          bb.put((docId % 256).toByte)
          bb.putInt((1000000 + docId % 1000000).toInt)
        case _ =>
          bb.put(0xC7.toByte)                       // code3 | checksum | dict4
          bb.put(((docId % 5) * 8 + (docId / 32) % 8).toByte)
          bb.putInt(((docId * 31) % 2147483648L).toInt)
          bb.putLong(5000000000L + docId)
      }
      (0 until bodyN).foreach(j => bb.put(((docId * 11 + j) % 256).toByte))
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
  }

  def plantedZstdMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedZstds.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedZstds.craftedZstd(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL zstd frame-header metadata (RFC 8878) from the binary
    * column — THE compression wrapper of modern dataset distribution
    * (corpus shards and crawl dumps ship .zst): after the LE magic,
    * ONE descriptor byte drives the entire layout — Single_Segment
    * decides whether a Window_Descriptor exists, Dictionary_ID_Flag
    * picks a 0/1/2/4-byte dict id, and the FCS code picks a 0/1/2/4/
    * 8-byte content size (2-byte carries the format's +256 rule;
    * 8-byte reads as two 4-byte halves with the high half bounded to
    * 2²¹ so the combined size stays Long-exact and a hostile
    * 0xFF…-size falls back instead of ANSI-throwing — the m28 lesson).
    * Window size decodes the exponent/mantissa rule; single-segment
    * frames report their content size as the window, per spec.
    * `complete` requires the reserved descriptor bit clear, every
    * declared field in-payload, and a KNOWN content size (streaming
    * frames without FCS fall to the synthetic tier — the router's
    * budget question is precisely the size). Map-only column exprs. */
  def zstdMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p).cast("long")
    val staged = media
      .withColumn("_zst", hex(p.substr(lit(1), lit(4))) === "28B52FFD")
      .withColumn("_flg", leUint(p, 5, 1))
      .withColumn("_fcsc", expr("_flg div 64"))
      .withColumn("_ss", pmod(expr("_flg div 32"), lit(2)) === 1)
      .withColumn("_resv", pmod(expr("_flg div 8"), lit(2)))
      .withColumn("_cks", pmod(expr("_flg div 4"), lit(2)))
      .withColumn("_dflag", pmod(col("_flg"), lit(4)))
      .withColumn("_wd", when(!col("_ss"), leUint(p, 6, 1)))
      .withColumn("_dpos", lit(6L) + when(col("_ss"), 0L).otherwise(1L))
      .withColumn("_dsize", when(col("_dflag") === 0, 0L)
        .when(col("_dflag") === 1, 1L).when(col("_dflag") === 2, 2L)
        .otherwise(4L))
    // the dict id read must use the DECLARED width — a fixed 4-byte
    // read would swallow FCS bytes on narrow ids
    val withDict = staged.withColumn("_dict",
      when(col("_dflag") === 0, lit(0L))
        .when(col("_dflag") === 1, leUintAt(p, col("_dpos"), 1))
        .when(col("_dflag") === 2, leUintAt(p, col("_dpos"), 2))
        .otherwise(leUintAt(p, col("_dpos"), 4)))
      .withColumn("_fpos", col("_dpos") + col("_dsize"))
      .withColumn("_fsize", when(col("_fcsc") === 0,
          when(col("_ss"), 1L).otherwise(0L))
        .when(col("_fcsc") === 1, 2L).when(col("_fcsc") === 2, 4L)
        .otherwise(8L))
      .withColumn("_cs", when(col("_fcsc") === 0 && col("_ss"),
          leUintAt(p, col("_fpos"), 1))
        .when(col("_fcsc") === 1, leUintAt(p, col("_fpos"), 2) + 256)
        .when(col("_fcsc") === 2, leUintAt(p, col("_fpos"), 4))
        .when(col("_fcsc") === 3, {
          val lo = leUintAt(p, col("_fpos"), 4)
          val hi = leUintAt(p, col("_fpos") + 4, 4)
          when(hi < (1L << 21), hi * 4294967296L + lo)
        }))
      .withColumn("_ws", when(col("_ss"), col("_cs"))
        .otherwise(expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(10 + _wd div 8 AS INT)) + " +
          "shiftleft(CAST(1 AS BIGINT), CAST(7 + _wd div 8 AS INT)) * (_wd % 8)")))
    val complete = coalesce(
      col("_zst") && col("_resv") === 0 && col("_cs").isNotNull &&
        col("_fpos") + col("_fsize") - 1 <= len &&
        (col("_ss") || col("_wd").isNotNull),
      lit(false))
    withDict.select(
      col("doc_id"),
      complete.cast("int").as("is_zstd"),
      when(complete, col("_ss").cast("int"))
        .otherwise(pmod(len, lit(2)).cast("int")).as("single_segment"),
      when(complete, col("_cks").cast("int")).otherwise(lit(0)).as("has_checksum"),
      when(complete, col("_dict")).otherwise(pmod(len, lit(1000L))).as("dict_id"),
      when(complete, col("_ws"))
        .otherwise(lit(1024L) * (lit(1L) + pmod(len, lit(7)))).as("window_size"),
      when(complete, col("_cs")).otherwise(len).as("content_size"))
  }

  /** The m29 gate: zstd frame metadata over the planted corpus. */
  def zstdMetaPlanted(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedZstds.Every): DataFrame =
    zstdMeta(plantedZstdMedia(spark, documents, every).toDF())

  object PlantedMp3s {
    val Every = 8

    /** Minimal real MP3: an ID3v2 header (syncsafe size, the m13
      * contract) whose payload is filler, then the first MPEG-1
      * Layer III audio frame — sync 0xFFFB, bitrate index 1..14,
      * samplerate index 0..2 and the padding bit all doc_id formulas,
      * channel-mode bits from doc_id%4 — plus a few data bytes. */
    def craftedMp3(docId: Long): Array[Byte] = {
      val tagSize = (40 + docId % 50).toInt
      val bri = (1 + docId % 14).toInt
      val sri = (docId % 3).toInt
      val pad = (docId % 2).toInt
      val mode = (docId % 4).toInt
      val out = java.nio.ByteBuffer.allocate(10 + tagSize + 4 + 12)
      out.put('I'.toByte).put('D'.toByte).put('3'.toByte)
      out.put(3.toByte).put(0.toByte).put(0.toByte)
      out.put(((tagSize >> 21) & 0x7f).toByte).put(((tagSize >> 14) & 0x7f).toByte)
      out.put(((tagSize >> 7) & 0x7f).toByte).put((tagSize & 0x7f).toByte)
      (0 until tagSize).foreach(i => out.put(((docId * 5 + i) % 256).toByte))
      out.put(0xFF.toByte).put(0xFB.toByte)   // sync + MPEG1 + Layer III
      out.put(((bri << 4) | (sri << 2) | (pad << 1)).toByte)
      out.put((mode << 6).toByte)
      (0 until 12).foreach(i => out.put(((docId * 3 + i) % 256).toByte))
      out.array()
    }
  }

  /** Documents with planted real-MP3 payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedMp3Media(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedMp3s.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedMp3s.craftedMp3(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL MPEG audio FRAME header parsing — m13 stops at the ID3 tag;
    * this reads the actual audio stream behind it, whose format
    * reality is that bitrate and sample rate are INDEX LOOKUPS into
    * published tables, not stored values (a parser that reads the
    * nibble as kbps is off by an order of magnitude): skip the
    * syncsafe-sized ID3v2 tag (or none — a bare stream starts at byte
    * one), validate the 11-bit frame sync + MPEG-1 + Layer III bits,
    * decode bitrate index → kbps and samplerate index → Hz through
    * broadcast-literal arrays, and compute the frame byte length with
    * the standard 144·bitrate/samplerate + padding integer formula —
    * the number a streaming splitter uses to hop frame-to-frame
    * without decoding audio. Invalid indices (0 or 15 bitrate,
    * reserved samplerate) and non-MP3 payloads degrade to the
    * synthetic tier. Pure column exprs, one scan, no shuffle/UDF. */
  def mp3FrameMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val bitrates = typedLit(Seq(32, 40, 48, 56, 64, 80, 96, 112,
      128, 160, 192, 224, 256, 320))
    val rates = typedLit(Seq(44100, 48000, 32000))
    val isId3 = hex(p.substr(lit(1), lit(3))) === "494433"
    val tagSize = beUint(p, lit(7L), 1) * 2097152 + beUint(p, lit(8L), 1) * 16384 +
      beUint(p, lit(9L), 1) * 128 + beUint(p, lit(10L), 1)
    val base = when(isId3, tagSize + 11).otherwise(lit(1L))
    val b0 = beUint(p, base, 1)
    val b1 = beUint(p, base + 1, 1)
    val b2 = beUint(p, base + 2, 1)
    val b3 = beUint(p, base + 3, 1)
    val syncOk = b0 === 255 && (b1.bitwiseAND(0xE0) === 0xE0)
    val mpeg1Layer3 = b1.bitwiseAND(0x1E) === 0x1A // version 11, layer 01
    val bri = (b2.bitwiseAND(0xF0) / 16).cast("int")
    val sri = (b2.bitwiseAND(0x0C) / 4).cast("int")
    val pad = (b2.bitwiseAND(0x02) / 2).cast("int")
    val mode = (b3.bitwiseAND(0xC0) / 64).cast("int")
    val complete = coalesce(syncOk && mpeg1Layer3 &&
      bri.between(1, 14) && sri.between(0, 2), lit(false))
    val br = element_at(bitrates, bri)         // 1-based: bri 1..14
    val sr = element_at(rates, sri + 1)
    val synth = (lit(64) + pmod(len * 7, lit(257))).cast("int")
    media
      .withColumn("_c", complete)
      .withColumn("_br", when(complete, br))
      .withColumn("_sr", when(complete, sr))
      .withColumn("_pad", when(complete, pad))
      .withColumn("_mode", when(complete, mode))
      .select(
        col("doc_id"),
        col("_c").cast("int").as("is_mp3"),
        when(col("_c"), col("_br")).otherwise(synth).as("bitrate_kbps"),
        when(col("_c"), col("_sr")).otherwise(lit(8000) + synth)
          .as("sample_rate"),
        when(col("_c"), col("_pad")).otherwise(lit(0)).as("padding"),
        when(col("_c"),
          when(col("_mode") === 0, "stereo").when(col("_mode") === 1, "joint")
            .when(col("_mode") === 2, "dual").otherwise("mono"))
          .otherwise(lit("none")).as("mode"),
        // integer floor division — a / here would be a DOUBLE divide
        when(col("_c"),
          expr("(144000 * CAST(_br AS BIGINT)) div _sr + _pad"))
          .otherwise(synth.cast("long")).as("frame_len"))
  }

  /** The m22 gate: MPEG frame metadata over the planted corpus. */
  def mp3FramePlanted(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedMp3s.Every): DataFrame =
    mp3FrameMeta(plantedMp3Media(spark, documents, every).toDF())

  object PlantedFlacs {
    val Every = 8
    def sampleRate(docId: Long) = (8000 + (docId % 50) * 800).toInt
    def channels(docId: Long) = (1 + docId % 8).toInt
    def bps(docId: Long) = (8 + (docId % 3) * 8).toInt
    def totalSamples(docId: Long) = 100000L + docId * 37

    /** Minimal real FLAC: `fLaC` magic + a last-flagged STREAMINFO
      * metadata block whose tail 8 bytes BIT-PACK sample rate (20
      * bits), channels−1 (3), bits-per-sample−1 (5) and total samples
      * (36) — every field a doc_id formula. */
    def craftedFlac(docId: Long): Array[Byte] = {
      val sr = sampleRate(docId); val ch = channels(docId)
      val b = bps(docId); val ts = totalSamples(docId)
      val out = java.nio.ByteBuffer.allocate(4 + 4 + 34 + 8)
      out.put("fLaC".getBytes("US-ASCII"))
      out.put(0x80.toByte)                       // last block, type 0
      out.put(0.toByte).put(0.toByte).put(34.toByte)
      out.putShort(4096.toShort).putShort(4096.toShort)  // block sizes
      (0 until 6).foreach(_ => out.put(0.toByte))        // frame sizes
      val u24 = sr * 16 + (ch - 1) * 2 + ((b - 1) / 16)
      out.put(((u24 >> 16) & 0xFF).toByte).put(((u24 >> 8) & 0xFF).toByte)
        .put((u24 & 0xFF).toByte)
      out.put(((((b - 1) % 16) << 4) | ((ts >> 32) & 0xF).toInt).toByte)
      out.putInt((ts & 0xFFFFFFFFL).toInt)
      (0 until 16).foreach(_ => out.put(0.toByte))       // md5 filler
      var i = 0
      while (i < 8) { out.put(((docId * 9 + i) % 256).toByte); i += 1 }
      out.array()
    }
  }

  /** Documents with planted real-FLAC payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedFlacMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedFlacs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedFlacs.craftedFlac(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL FLAC STREAMINFO parsing — the lossless-audio side of the
    * m5/m22 family, whose format reality is BIT-PACKED fields: sample
    * rate (20 bits), channels−1 (3), bits-per-sample−1 (5) and total
    * samples (36) share bytes, so extraction is integer div/mod
    * arithmetic over byte-aligned reads (a 36-bit count cannot even be
    * read as one aligned integer — it splits across a nibble and a
    * u32, exactly how the spec lays it out). Validates the `fLaC`
    * magic + a type-0 first metadata block of length 34; reports the
    * decoded fields and the derived duration_ms = samples·1000 div
    * rate (the integer the catalog layer actually wants). Non-FLAC
    * payloads degrade to the synthetic tier. Pure column exprs, one
    * scan, no shuffle/UDF. */
  def flacMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isFlac = p.substr(lit(1), lit(4)).cast("string") === "fLaC" &&
      beUint(p, lit(5L), 1).bitwiseAND(0x7F) === 0 &&
      beUint(p, lit(6L), 3) === 34
    val synth = (lit(8000) + pmod(len * 13, lit(4001))).cast("long")
    media
      .withColumn("_u24", beUint(p, lit(19L), 3))
      .withColumn("_u8", beUint(p, lit(22L), 1))
      .withColumn("_u32", beUint(p, lit(23L), 4))
      .withColumn("_c", coalesce(isFlac &&
        expr("_u24 div 16") > 0 && col("_u32").isNotNull, lit(false)))
      .select(
        col("doc_id"),
        col("_c").cast("int").as("is_flac"),
        // bit unpacking is integer div/mod — a `/` would be a double
        // divide (the m22 lesson, same cliff)
        when(col("_c"), expr("_u24 div 16")).otherwise(synth)
          .as("sample_rate"),
        when(col("_c"), expr("CAST((_u24 div 2) % 8 + 1 AS INT)"))
          .otherwise(lit(1)).as("channels"),
        when(col("_c"), expr("CAST((_u24 % 2) * 16 + _u8 div 16 + 1 AS INT)"))
          .otherwise(lit(16)).as("bits_per_sample"),
        when(col("_c"), expr("(_u8 % 16) * 4294967296 + _u32"))
          .otherwise(synth * 10).as("total_samples"))
      .withColumn("duration_ms",
        expr("(total_samples * 1000) div sample_rate"))
  }

  /** The m23 gate: FLAC STREAMINFO over the planted corpus. */
  def flacMetaPlanted(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedFlacs.Every): DataFrame =
    flacMeta(plantedFlacMedia(spark, documents, every).toDF())

  object PlantedEncodings {
    val Every = 8

    /** Crafted byte payloads cycling four encodings by (doc_id/8)%4:
      * UTF-8 with BOM, UTF-16LE with BOM, UTF-16BE with BOM, and
      * BOM-less Latin-1 (one 0xE9 high byte — a standalone
      * continuation byte, invalid as UTF-8). The char payload is a
      * doc_id formula so every byte/char count replays relationally. */
    def payloadText(docId: Long) = s"doc $docId data"
    def craftedBytes(docId: Long): Array[Byte] = {
      val t = payloadText(docId)
      ((docId / 8) % 4) match {
        case 0 => Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
          t.getBytes("UTF-8")
        case 1 => Array(0xFF, 0xFE).map(_.toByte) ++
          t.getBytes("UTF-16LE")
        case 2 => Array(0xFE, 0xFF).map(_.toByte) ++
          t.getBytes("UTF-16BE")
        case _ => Array(0xE9.toByte) ++ t.getBytes("US-ASCII")
      }
    }
  }

  /** Documents with planted mixed-encoding payloads on every
    * `every`-th doc_id (plain UTF-8 text bytes otherwise). */
  def plantedEncodingMedia(spark: SparkSession, documents: DataFrame,
                           every: Int = PlantedEncodings.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedEncodings.craftedBytes(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Charset sniffing at the BYTE layer — the step a crawl ingest runs
    * before any text exists (HTTP bodies arrive as bytes; assuming
    * UTF-8 silently mangles the UTF-16 and legacy-8-bit minority, and
    * mangled text then poisons every token/dedup key downstream): BOM
    * detection (UTF-8 / UTF-16LE / UTF-16BE — checked longest-first),
    * UTF-8 VALIDITY via Spark 4's native `is_valid_utf8` (NOTE: the
    * tempting decode-and-look-for-U+FFFD trick does NOT work here —
    * Spark's binary→string cast wraps the raw bytes in a UTF8String
    * WITHOUT sanitizing, so invalid sequences survive the cast
    * verbatim and no replacement char ever appears; caught by the
    * spec's UTF-16 payloads), byte/char counts, and a multibyte
    * flag (chars < bytes) for valid payloads. Char-level fields are
    * NULL for invalid payloads — the replacement-char count is an
    * implementation detail no cross-engine contract should read.
    * Pure column map, one scan, no shuffle, no UDF. */
  def charsetSniff(media: DataFrame): DataFrame = {
    val p = col("payload")
    val decoded = p.cast("string")
    // the cast is byte-preserving (see scaladoc), so validating the
    // cast string validates the raw payload bytes
    val valid = expr("is_valid_utf8(cast(payload as string))")
    media.select(
      col("doc_id"),
      when(hex(p.substr(lit(1), lit(3))) === "EFBBBF", "utf8-bom")
        .when(hex(p.substr(lit(1), lit(2))) === "FFFE", "utf16le")
        .when(hex(p.substr(lit(1), lit(2))) === "FEFF", "utf16be")
        .otherwise("none").as("bom"),
      valid.cast("int").as("valid_utf8"),
      octet_length(p).cast("long").as("n_bytes"),
      when(valid, length(decoded).cast("long")).as("n_chars"),
      when(valid, (length(decoded) < octet_length(p)).cast("int"))
        .as("multibyte"))
  }

  /** The m20 gate: charset sniffing over the planted mixed-encoding
    * corpus. */
  def charsetSniffPlanted(spark: SparkSession, documents: DataFrame,
                          every: Int = PlantedEncodings.Every): DataFrame =
    charsetSniff(plantedEncodingMedia(spark, documents, every).toDF())

  object PlantedWebps {
    val Every = 8

    /** Minimal real WebP: RIFF header + either the extended `VP8X`
      * chunk (flags byte with the spec's alpha 0x10 / EXIF 0x08 bits,
      * 24-bit little-endian canvas dims, the %16!=0 case) or the lossy
      * simple-format `VP8 ` chunk (frame tag, 9D 01 2A sync code,
      * 14-bit LE dims, the %16==0 case). Every value a doc_id formula
      * (flag bits keyed off doc_id/8 so they vary across the planted
      * slice, whose ids are all even). */
    def craftedWebp(docId: Long): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(30)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(22)
      out.put("WEBP".getBytes("US-ASCII"))
      if (docId % 16 == 0) {
        out.put("VP8 ".getBytes("US-ASCII")).putInt(10)
        out.put(0.toByte).put(0.toByte).put(0.toByte)   // frame tag
        out.put(0x9D.toByte).put(0x01.toByte).put(0x2A.toByte) // sync
        out.putShort((32 + docId % 300).toShort)        // 14-bit width
        out.putShort((32 + docId % 280).toShort)        // 14-bit height
      } else {
        val flags = (((docId / 8) % 2) * 16 +
          (if ((docId / 8) % 3 == 0) 8 else 0)).toInt
        out.put("VP8X".getBytes("US-ASCII")).putInt(10)
        out.put(flags.toByte)
        out.put(0.toByte).put(0.toByte).put(0.toByte)   // reserved
        val w = (32 + docId % 211 - 1).toInt             // stored minus-one
        val h = (32 + docId % 191 - 1).toInt
        out.put((w & 0xFF).toByte).put(((w >> 8) & 0xFF).toByte)
          .put(((w >> 16) & 0xFF).toByte)
        out.put((h & 0xFF).toByte).put(((h >> 8) & 0xFF).toByte)
          .put(((h >> 16) & 0xFF).toByte)
      }
      out.array()
    }
  }

  /** Documents with planted real-WebP payloads on every `every`-th
    * doc_id (text bytes otherwise). */
  def plantedWebpMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedWebps.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedWebps.craftedWebp(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** REAL WebP container metadata from the binary column — the OTHER
    * big crawled-image format next to PNG/JPEG (a modern crawl's image
    * mix is heavily WebP) and the m5/m6 RIFF idiom reused at the image
    * layer: RIFF magic + `WEBP` form type, then the FIRST chunk
    * dispatches the format — the extended `VP8X` header (flags byte
    * with the spec's alpha 0x10 / EXIF 0x08 bits, 24-bit LE minus-one
    * canvas dims) or the lossy simple-format `VP8 ` bitstream header
    * (the 9D 01 2A sync check a real parser performs, then 14-bit LE
    * dims). Lossless `VP8L` and anything else degrades to the
    * deterministic synthetic tier (the media contract: degrade, never
    * misparse). Pure column exprs, one scan, no shuffle, no UDF. */
  def webpMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isRiffWebp = p.substr(lit(1), lit(4)).cast("string") === "RIFF" &&
      p.substr(lit(9), lit(4)).cast("string") === "WEBP"
    val fourcc = p.substr(lit(13), lit(4)).cast("string")
    val isX = fourcc === "VP8X"
    val isLossy = fourcc === "VP8 "
    val staged = media
      .withColumn("_flags", leUint(p, 21, 1))
      .withColumn("_xw", leUint(p, 25, 3) + 1)
      .withColumn("_xh", leUint(p, 28, 3) + 1)
      .withColumn("_sync", hex(p.substr(lit(24), lit(3))))
      .withColumn("_lw", pmod(leUint(p, 27, 2), lit(16384L)))
      .withColumn("_lh", pmod(leUint(p, 29, 2), lit(16384L)))
    val completeX = isRiffWebp && isX &&
      col("_flags").isNotNull && col("_xw").isNotNull && col("_xh").isNotNull
    val completeLossy = isRiffWebp && isLossy &&
      coalesce(col("_sync") === "9D012A", lit(false)) &&
      col("_lw").isNotNull && col("_lh").isNotNull
    staged.select(
      col("doc_id"),
      (completeX || completeLossy).cast("int").as("is_webp"),
      when(completeX, lit("VP8X")).when(completeLossy, lit("VP8 "))
        .otherwise(lit("none")).as("format"),
      when(completeX, col("_xw")).when(completeLossy, col("_lw"))
        .otherwise(lit(16) + pmod(len * 7, lit(367))).cast("int").as("width"),
      when(completeX, col("_xh")).when(completeLossy, col("_lh"))
        .otherwise(lit(16) + pmod(len * 11, lit(347))).cast("int").as("height"),
      when(completeX, (expr("_flags div 16") % 2).cast("int"))
        .otherwise(lit(0)).as("has_alpha"),
      when(completeX, (expr("_flags div 8") % 2).cast("int"))
        .otherwise(lit(0)).as("has_exif"))
  }

  /** The m18 gate: WebP container metadata over the planted corpus. */
  def webpMetaPlanted(spark: SparkSession, documents: DataFrame,
                      every: Int = PlantedWebps.Every): DataFrame =
    webpMeta(plantedWebpMedia(spark, documents, every).toDF())

  /** Documents with planted real-JPEG (DQT/SOF0) payloads on every
    * `every`-th doc_id (text bytes otherwise). */
  def plantedJpegMedia(spark: SparkSession, documents: DataFrame,
                       every: Int = PlantedJpegs.Every): Dataset[MediaIn] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (id % every == 0) MediaIn(id, PlantedJpegs.craftedJpeg(id))
        else MediaIn(id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** JPEG quantization-table (DQT) quality estimation — the compression
    * -quality gate of an image-corpus pipeline (re-saved thumbnails and
    * meme-grade recompressions are the visual analogue of boilerplate;
    * the quant tables ARE the quality record the encoder left behind —
    * smaller quant values = finer coefficient quantization = higher
    * fidelity, the invariant every JPEG quality estimator keys on):
    * a length-driven SEGMENT walk (marker, BE u16 length, cursor +=
    * 2+len — the mp4Meta box-walk idiom at the JPEG layer) over up to
    * `maxSegs` segments locates every DQT (0xFFDB) and the SOF0 frame
    * header; the FIRST (luminance) table yields min/max/mean quant
    * value — 64 single-byte reads summed as one column expression,
    * mean via the exact integer rational (ratRound/HUGEINT) — and the
    * quality band cuts on the integer quant SUM (never a float mean):
    * ≤512 high (mean ≤8), ≤1536 medium (mean ≤24), else low. SOF0
    * supplies pixel dims. Non-JPEG payloads degrade to deterministic
    * synthetic metadata (the media-tier contract). Pure column exprs,
    * one scan, no shuffle, no UDF. */
  def jpegDqt(media: DataFrame, maxSegs: Int = 5): DataFrame = {
    val p = col("payload")
    val len = octet_length(p)
    val isJpeg = hex(p.substr(lit(1), lit(2))) === "FFD8"
    var m0 = media.withColumn("_k0", lit(3L))
    for (j <- 0 until maxSegs) {
      m0 = m0
        .withColumn(s"_mk$j", hex(p.substr(col(s"_k$j").cast("int"), lit(2))))
        .withColumn(s"_ln$j", beUint(p, col(s"_k$j") + 2, 2))
        .withColumn(s"_k${j + 1}", col(s"_k$j") + 2 + col(s"_ln$j"))
    }
    val dqtPos = coalesce((0 until maxSegs).map(j =>
      when(col(s"_mk$j") === "FFDB", col(s"_k$j"))): _*)
    val nDqt = (0 until maxSegs).map(j =>
      coalesce((col(s"_mk$j") === "FFDB").cast("int"), lit(0)))
      .reduce(_ + _)
    val sofPos = coalesce((0 until maxSegs).map(j =>
      when(col(s"_mk$j") === "FFC0", col(s"_k$j"))): _*)
    val staged = m0
      .withColumn("_dqt", dqtPos)
      .withColumn("_ndqt", nDqt)
      .withColumn("_sof", sofPos)
      .withColumn("_pqtq", beUint(p, col("_dqt") + 4, 1))
    val qBytes = (0 until 64).map(i => beUint(p, col("_dqt") + 5 + i, 1))
    val withQ = staged
      .withColumn("_qsum", qBytes.reduce(_ + _))
      .withColumn("_qmin", least(qBytes: _*))
      .withColumn("_qmax", greatest(qBytes: _*))
      .withColumn("_h", beUint(p, col("_sof") + 5, 2))
      .withColumn("_w", beUint(p, col("_sof") + 7, 2))
    val complete = isJpeg &&
      col("_dqt").isNotNull && col("_qsum").isNotNull &&
      col("_sof").isNotNull && col("_h").isNotNull &&
      coalesce(col("_pqtq") < 16, lit(false)) // Pq=0: 8-bit tables only
    val synth = (lit(1) + pmod(len, lit(50))).cast("int")
    withQ.select(
      col("doc_id"),
      complete.cast("int").as("is_jpeg"),
      when(complete, col("_ndqt")).otherwise(lit(0)).cast("int").as("n_dqt"),
      when(complete, col("_w").cast("int"))
        .otherwise((lit(24) + pmod(len * 3, lit(433))).cast("int")).as("width"),
      when(complete, col("_h").cast("int"))
        .otherwise((lit(24) + pmod(len * 5, lit(389))).cast("int")).as("height"),
      when(complete, graft.functions.ColumnFns.ratRound("_qsum", "64", 4))
        .otherwise(synth.cast("double")).as("q_mean"),
      when(complete, col("_qmin").cast("int")).otherwise(synth).as("q_min"),
      when(complete, col("_qmax").cast("int")).otherwise(synth).as("q_max"),
      when(complete,
        when(col("_qsum") <= 512, "high")
          .when(col("_qsum") <= 1536, "medium")
          .otherwise("low"))
        .otherwise(lit("none")).as("band"))
  }

  /** The m17 gate: DQT quality estimation over the planted-JPEG corpus. */
  def jpegDqtPlanted(spark: SparkSession, documents: DataFrame,
                     every: Int = PlantedJpegs.Every): DataFrame =
    jpegDqt(plantedJpegMedia(spark, documents, every).toDF())
}

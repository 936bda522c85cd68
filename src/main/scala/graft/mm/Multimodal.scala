package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the training-data pipeline: media payloads
  * are opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract / frame-sample run as partition-local transforms over the
  * binary batches (the Scala analogue of mapInPandas — one iterator pass per
  * partition, vectorizable batch shape, no shuffle).
  *
  * All three media classes have REAL pure-JVM container decoders (this
  * container ships no codec libraries, so the formats are the
  * library-free ones): audio = RIFF/WAVE PCM16 ([[Wav]]), image = 24bpp
  * BMP ([[Bmp]]), video = YUV4MPEG2 ([[Y4m]]). [[FakeDecoder]] survives
  * only as the deterministic stand-in for LEARNED feature extraction (the
  * embedding-model step a real pipeline would run on decoded pixels) —
  * every container-decode path is genuine.
  */
object Multimodal {

  /** Typed row for the partition-local decode pass. */
  case class MediaRow(doc_id: Long, format: String, n_bytes: Long, payload: Array[Byte])
  case class HistRow(doc_id: Long, bin: Long, n_in_bin: Long)
  case class FrameRow(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Wrap a text table as a binary media table: payload = utf-8 bytes,
    * metadata = (format, n_bytes). Stands in for an Iceberg table of image /
    * audio blobs with the same shape. */
  def asMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      lit("utf8-blob").as("format"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      encode(col("text"), "UTF-8").as("payload"))

  /** STUB decoder: a real implementation would hand `payload` to an image /
    * audio codec. This deterministic fake emits a 16-bin byte histogram —
    * stable across partitionings, so the plumbing is testable end-to-end. */
  object FakeDecoder {
    val Bins = 16
    /** Integer byte histogram — the exact (engine-comparable) decode core. */
    def histogram(payload: Array[Byte]): Array[Long] = {
      val hist = new Array[Long](Bins)
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) * Bins / 256) += 1
        i += 1
      }
      hist
    }
  }

  /** Exact-integer feature view for the correctness gate: one row per
    * (doc, bin) with the raw histogram count — every value is a BIGINT, so
    * the DuckDB oracle reproduces the decode bit for bit (the float
    * `features` array is not hash-comparable across engines: pandas cannot
    * lexsort array cells and float formatting differs). */
  def featureHistogram(spark: SparkSession, media: DataFrame): Dataset[HistRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.flatMap { r =>
      val hist = FakeDecoder.histogram(r.payload)
      (0 until FakeDecoder.Bins).iterator.map(b => HistRow(r.doc_id, b.toLong, hist(b)))
    })
  }

  /** Frame sampling: split the payload into `frames` equal byte slices —
    * the video-frame-sampling plumbing (a codec would seek keyframes). */
  def sampleFrames(spark: SparkSession, media: DataFrame, frames: Int): Dataset[FrameRow] = {
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      val step = math.max(r.payload.length / frames, 1)
      (0 until frames).iterator.takeWhile(i => i * step < r.payload.length).map { i =>
        val from = i * step
        val until = math.min(from + step, r.payload.length)
        FrameRow(r.doc_id, i, java.util.Arrays.copyOfRange(r.payload, from, until))
      }
    }
  }

  /** Resize view for the gate: the 16-bin histogram as a float feature
    * vector truncated/padded to `dim` (the shape-normalization step a real
    * resize would perform; float32 holds the counts exactly — they are
    * < 2^24), exploded to (doc_id, dim_idx, n_in_bin) BIGINT rows the
    * DuckDB oracle reproduces. */
  def resizedHistogram(spark: SparkSession, media: DataFrame, dim: Int): DataFrame = {
    val feats = featureHistogram(spark, media).toDF()
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(bin, n_in_bin)))," +
        " x -> cast(x.n_in_bin as float))").as("features"))
    feats.select(col("doc_id"), posexplode(
        slice(concat(col("features"), array_repeat(lit(0.0f), dim)), 1, dim)))
      .select(col("doc_id"), col("pos").cast("long").as("dim_idx"),
        col("col").cast("long").as("n_in_bin"))
  }

  // ——— WAV: the one REAL (non-stub) decode path ———————————————————————————
  //
  // RIFF/WAVE is a public container format parseable with zero external
  // libraries, so this tier can exercise a genuine decoder end to end:
  // synthesize a valid PCM16 WAV per document (payload bytes -> samples),
  // then parse it back with a real chunk-walking reader. The synthesizer
  // plants a LIST chunk before `data` (with RIFF's odd-size pad rule), so a
  // reader that merely slices a fixed 44-byte header fails — the parser must
  // actually walk the chunk list like any WAV tool.

  case class WavRow(doc_id: Long, payload: Array[Byte])
  case class WavInfo(doc_id: Long, sample_rate: Long, n_channels: Long,
                     bits_per_sample: Long, n_samples: Long,
                     pcm_sum: Long, pcm_min: Long, pcm_max: Long)

  // little-endian fields of the WAV and BMP containers: writers for the
  // synthesizers, and a reader a decoder imports over its container's bytes
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Int): Array[Byte] = le16(v) ++ le16(v >> 16)
  private final class LittleEndian(bytes: Array[Byte]) {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16At(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32At(i: Int): Int = le16At(i) | (le16At(i + 2) << 16)
  }

  object Wav {
    /** Sample value for text codepoint cp: low byte spread over the full
      * signed-16 range (255*257-32768 = 32767). Codepoints (mod 256), NOT
      * UTF-8 bytes: the oracle recomputes samples via ascii(substr(text,i))
      * over length(text) CHARACTERS, so a byte-based synth would desync on
      * the first non-ASCII document (char count != byte count). */
    def sampleOf(cp: Int): Int = (cp & 0xff) * 257 - 32768

    /** One sample per text codepoint, mono PCM16, rate = 8000+(id%8)*1000. */
    def synthesize(docId: Long, text: String): Array[Byte] = {
      val rate = (8000 + (docId % 8) * 1000).toInt
      val cps = text.codePoints().toArray
      val pcm = new Array[Byte](cps.length * 2)
      var i = 0
      while (i < cps.length) {
        val s = sampleOf(cps(i))
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = le16(1) ++ le16(1) ++ le32(rate) ++ le32(rate * 2) ++
        le16(2) ++ le16(16)
      // deliberately odd-sized LIST payload: exercises RIFF's pad-byte rule
      val listBody = "INFOgrft!".getBytes("US-ASCII") // 9 bytes -> 1 pad
      val chunks =
        "fmt ".getBytes("US-ASCII") ++ le32(fmt.length) ++ fmt ++
        "LIST".getBytes("US-ASCII") ++ le32(listBody.length) ++ listBody ++
          Array(0.toByte) ++
        "data".getBytes("US-ASCII") ++ le32(pcm.length) ++ pcm
      "RIFF".getBytes("US-ASCII") ++ le32(4 + chunks.length) ++
        "WAVE".getBytes("US-ASCII") ++ chunks
    }

    /** REAL decoder: validates the RIFF/WAVE magic, walks the chunk list
      * (honoring the odd-size pad byte), parses `fmt `, and folds the PCM16
      * samples of `data` into exact-integer stats. Throws on malformed
      * containers (truncated, bad magic, missing chunks). */
    def decode(docId: Long, wav: Array[Byte]): WavInfo = {
      val in = new LittleEndian(wav)
      import in._
      def tag(i: Int): String = new String(wav, i, 4, "US-ASCII")
      require(wav.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
        s"doc $docId: not a RIFF/WAVE container")
      var pos = 12
      var rate = -1; var channels = -1; var bits = -1
      var dataAt = -1; var dataLen = -1
      while (pos + 8 <= wav.length) {
        val id = tag(pos); val len = le32At(pos + 4)
        require(len >= 0 && pos + 8 + len <= wav.length,
          s"doc $docId: truncated chunk $id")
        id match {
          case "fmt " =>
            require(len >= 16, s"doc $docId: short fmt chunk")
            require(le16At(pos + 8) == 1, s"doc $docId: not PCM")
            channels = le16At(pos + 10)
            rate = le32At(pos + 12)
            bits = le16At(pos + 22)
          case "data" => dataAt = pos + 8; dataLen = len
          case _ => () // unknown chunk (LIST, fact, ...): skip
        }
        pos += 8 + len + (len & 1) // RIFF chunks are word-aligned
      }
      require(rate > 0 && dataAt >= 0, s"doc $docId: missing fmt/data chunk")
      require(bits == 16 && channels == 1, s"doc $docId: unsupported layout")
      val n = dataLen / 2
      var sum = 0L; var min = Long.MaxValue; var max = Long.MinValue
      var i = 0
      while (i < n) {
        val s = (le16At(dataAt + 2 * i) << 16) >> 16 // sign-extend
        sum += s
        if (s < min) min = s
        if (s > max) max = s
        i += 1
      }
      if (n == 0) { min = 0L; max = 0L }
      WavInfo(docId, rate.toLong, channels.toLong, bits.toLong, n.toLong,
        sum, min, max)
    }
  }

  // ——— BMP: the second REAL (non-stub) decode path ————————————————————————
  //
  // Windows BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, 24bpp) is a public
  // pixel container parseable with zero external libraries — the image
  // analogue of the WAV tier above, shrinking FakeDecoder's remit to video
  // only. The synthesizer plants the format's two classic traps: ROW STRIDE
  // (each pixel row padded to a 4-byte boundary — widths 5/6/7 pad 1/2/3
  // bytes, width 8 pads 0) and BOTTOM-UP row order (positive height stores
  // the last image row first). A reader that ignores either gets the
  // position-weighted checksum wrong; a fixed-offset slicer breaks on the
  // header-size field.

  case class BmpRow(doc_id: Long, payload: Array[Byte])
  /** Exact-integer decode stats; `b_weighted` = Σ (p+1)·B(p) over TOP-DOWN
    * row-major pixel index p — positionally sensitive, so stride or row-
    * order mistakes cannot cancel out. */
  case class BmpInfo(doc_id: Long, width: Long, height: Long, n_px: Long,
                     px_sum_b: Long, px_sum_g: Long, px_sum_r: Long,
                     px_min: Long, px_max: Long, b_weighted: Long)

  object Bmp {
    /** Channel values for text codepoint cp (codepoints, not UTF-8 bytes —
      * same oracle-parity rule as [[Wav.sampleOf]]). */
    def bOf(cp: Int): Int = cp & 0xff
    def gOf(cp: Int): Int = (cp * 7) % 256
    def rOf(cp: Int): Int = (cp * 13) % 256

    /** Deterministic geometry: width 5..8 by doc id (strides 16/20/24/24 —
      * pads 1/2/3/0), height = rows needed for one pixel per codepoint
      * (min 1); pixels past the text are black padding pixels. */
    def widthOf(docId: Long): Int = (5 + docId % 4).toInt
    def heightOf(docId: Long, nCps: Long): Int =
      math.max(1L, (nCps + widthOf(docId) - 1) / widthOf(docId)).toInt

    /** One 24bpp bottom-up BMP per document: pixel p (top-down row-major)
      * carries channel values of codepoint p, black past the text. */
    def synthesize(docId: Long, text: String): Array[Byte] = {
      val cps = text.codePoints().toArray
      val w = widthOf(docId)
      val h = heightOf(docId, cps.length.toLong)
      val stride = ((w * 3 + 3) / 4) * 4
      val imageSize = stride * h
      val data = new Array[Byte](imageSize) // zero-initialized = black + pad
      var p = 0
      while (p < cps.length) {
        val y = p / w; val x = p % w
        val fileRow = h - 1 - y // bottom-up
        val off = fileRow * stride + x * 3
        data(off) = bOf(cps(p)).toByte
        data(off + 1) = gOf(cps(p)).toByte
        data(off + 2) = rOf(cps(p)).toByte
        p += 1
      }
      val fileHeader = "BM".getBytes("US-ASCII") ++
        le32(14 + 40 + imageSize) ++ le16(0) ++ le16(0) ++ le32(14 + 40)
      val infoHeader = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(imageSize) ++ le32(2835) ++ le32(2835) ++
        le32(0) ++ le32(0)
      fileHeader ++ infoHeader ++ data
    }

    /** REAL decoder: validates the BM magic, reads the pixel-data offset
      * from the file header and the geometry from the DIB header (any DIB
      * size ≥ 40 — the offset field, not a hardcoded 54, locates the
      * pixels), walks rows honoring the 4-byte stride and the row order
      * (positive height = bottom-up, negative = top-down), and folds every
      * pixel into exact-integer stats. Throws on malformed containers. */
    def decode(docId: Long, bmp: Array[Byte]): BmpInfo = {
      val in = new LittleEndian(bmp)
      import in._
      require(bmp.length >= 54 && bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte,
        s"doc $docId: not a BMP container")
      val pixelOffset = le32At(10)
      val dibSize = le32At(14)
      require(dibSize >= 40, s"doc $docId: unsupported DIB header ($dibSize)")
      val w = le32At(18)
      val hRaw = le32At(22)
      val topDown = hRaw < 0
      val h = math.abs(hRaw)
      require(w > 0 && h > 0, s"doc $docId: bad geometry ${w}x$hRaw")
      require(le16At(26) == 1, s"doc $docId: planes != 1")
      require(le16At(28) == 24, s"doc $docId: not 24bpp")
      require(le32At(30) == 0, s"doc $docId: compressed BMP unsupported")
      val stride = ((w * 3 + 3) / 4) * 4
      require(pixelOffset >= 54 && pixelOffset + stride.toLong * h <= bmp.length,
        s"doc $docId: truncated pixel data")
      var sumB = 0L; var sumG = 0L; var sumR = 0L; var bw = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      var y = 0
      while (y < h) {
        val fileRow = if (topDown) y else h - 1 - y
        val rowOff = pixelOffset + fileRow * stride
        var x = 0
        while (x < w) {
          val b = u8(rowOff + x * 3)
          val g = u8(rowOff + x * 3 + 1)
          val r = u8(rowOff + x * 3 + 2)
          sumB += b; sumG += g; sumR += r
          bw += (y.toLong * w + x + 1) * b
          val lo = math.min(b, math.min(g, r))
          val hi = math.max(b, math.max(g, r))
          if (lo < mn) mn = lo
          if (hi > mx) mx = hi
          x += 1
        }
        y += 1
      }
      BmpInfo(docId, w.toLong, h.toLong, w.toLong * h, sumB, sumG, sumR,
        mn, mx, bw)
    }
  }

  // ——— Y4M: the third REAL (non-stub) decode path — VIDEO ————————————————
  //
  // YUV4MPEG2 (y4m) is the public uncompressed-video container (plain-text
  // parameter header, FRAME markers, raw YCbCr planes) parseable with zero
  // external libraries — the video analogue of the WAV/BMP tiers, retiring
  // FakeDecoder entirely. The synthesizer plants the format's traps: the
  // header's parameter TAGS come in per-doc-varying order (a fixed-offset
  // slicer breaks), odd frames carry an optional FRAME parameter (the
  // parser must scan to the newline, not assume a 6-byte marker), and the
  // C420jpeg colorspace subsamples chroma 2:1 in both axes (a reader that
  // walks w·h bytes for all three planes desyncs on frame 2).

  case class Y4mRow(doc_id: Long, payload: Array[Byte])
  /** Exact-integer decode stats; `y_weighted` = Σ (f·w·h + p + 1)·Y over
    * frame f, row-major pixel p — positionally sensitive across frames AND
    * pixels, so frame-order, stride, or plane-size mistakes cannot cancel. */
  case class Y4mInfo(doc_id: Long, width: Long, height: Long, n_frames: Long,
                     y_sum: Long, y_min: Long, y_max: Long, y_weighted: Long,
                     uv_sum: Long)

  object Y4m {
    /** Luma of codepoint cp in frame f: the per-frame shift makes every
      * frame distinct. Codepoints, not UTF-8 bytes (oracle-parity rule of
      * [[Wav.sampleOf]]). */
    def yOf(cp: Int, frame: Int): Int = ((cp & 0xff) + 17 * frame) % 256
    /** Constant chroma per doc (planes must still be sized/walked right). */
    def uOf(docId: Long): Int = ((docId * 5 + 7) % 256).toInt
    def vOf(docId: Long): Int = ((docId * 11 + 3) % 256).toInt

    /** Even geometry (C420 subsampling requires it): width 4/6/8/10 by doc
      * id, height = even row count fitting one pixel per codepoint (min 2);
      * pixels past the text are black. */
    def widthOf(docId: Long): Int = (4 + (docId % 4) * 2).toInt
    def heightOf(docId: Long, nCps: Long): Int = {
      val w = widthOf(docId)
      val rows = math.max(1L, (nCps + w - 1) / w)
      (((rows + 1) / 2) * 2).toInt
    }
    def framesOf(docId: Long): Int = (2 + docId % 3).toInt

    /** One C420jpeg y4m clip per document: frame f's luma plane carries
      * yOf(codepoint, f) top-down row-major, chroma planes are the doc's
      * constants. Header tag order alternates by doc parity; odd frames
      * carry an `Xgrft` frame parameter. */
    def synthesize(docId: Long, text: String): Array[Byte] = {
      val cps = text.codePoints().toArray
      val w = widthOf(docId); val h = heightOf(docId, cps.length.toLong)
      val frames = framesOf(docId)
      val dims =
        if (docId % 2 == 0) s"W$w H$h" else s"H$h W$w"
      val header = s"YUV4MPEG2 F25:1 $dims Ip A1:1 C420jpeg\n"
      val cSize = (w / 2) * (h / 2)
      val out = new java.io.ByteArrayOutputStream()
      out.write(header.getBytes("US-ASCII"))
      var f = 0
      while (f < frames) {
        val marker = if (f % 2 == 1) "FRAME Xgrft\n" else "FRAME\n"
        out.write(marker.getBytes("US-ASCII"))
        val y = new Array[Byte](w * h)
        var p = 0
        while (p < cps.length && p < y.length) {
          y(p) = yOf(cps(p), f).toByte
          p += 1
        }
        out.write(y)
        val u = new Array[Byte](cSize)
        java.util.Arrays.fill(u, uOf(docId).toByte)
        out.write(u)
        val v = new Array[Byte](cSize)
        java.util.Arrays.fill(v, vOf(docId).toByte)
        out.write(v)
        f += 1
      }
      out.toByteArray
    }

    /** REAL decoder: parses the parameter header (tags in ANY order, W/H
      * required, colorspace tag honored — C420* subsampled, Cmono luma-only),
      * then walks FRAME markers (scanning each to its newline — frame
      * parameters are legal), reading w·h luma + 2·(w/2)·(h/2) chroma bytes
      * per frame, folding exact-integer stats. Throws on malformed input
      * (bad magic, missing W/H, odd dims under 420, truncated planes, bad
      * FRAME marker). */
    def decode(docId: Long, y4m: Array[Byte]): Y4mInfo = {
      var nl = 0
      while (nl < y4m.length && y4m(nl) != '\n'.toByte) nl += 1
      require(nl < y4m.length, s"doc $docId: no y4m header terminator")
      val header = new String(y4m, 0, nl, "US-ASCII")
      val toks = header.split(' ')
      require(toks.nonEmpty && toks(0) == "YUV4MPEG2",
        s"doc $docId: not a YUV4MPEG2 stream")
      var w = -1; var h = -1; var cs = "420jpeg" // y4m default is 4:2:0
      toks.iterator.drop(1).foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.substring(1).toInt
          case 'H' => h = t.substring(1).toInt
          case 'C' => cs = t.substring(1)
          case _ => () // F/I/A/X params: not needed for plane walking
        }
      }
      require(w > 0 && h > 0, s"doc $docId: missing/bad W/H in '$header'")
      val cSize =
        if (cs.startsWith("420")) {
          require(w % 2 == 0 && h % 2 == 0,
            s"doc $docId: odd geometry ${w}x$h under C$cs")
          (w / 2) * (h / 2)
        } else if (cs == "mono") 0
        else if (cs.startsWith("444")) w * h
        else throw new IllegalArgumentException(
          s"doc $docId: unsupported colorspace C$cs")
      val ySize = w * h
      val frameMagic = "FRAME".getBytes("US-ASCII")
      var pos = nl + 1
      var frames = 0
      var ySum = 0L; var yMin = Long.MaxValue; var yMax = Long.MinValue
      var yW = 0L; var uvSum = 0L
      while (pos < y4m.length) {
        require(pos + frameMagic.length <= y4m.length &&
          frameMagic.indices.forall(i => y4m(pos + i) == frameMagic(i)),
          s"doc $docId: bad FRAME marker at byte $pos")
        var e = pos + frameMagic.length
        while (e < y4m.length && y4m(e) != '\n'.toByte) e += 1
        require(e < y4m.length, s"doc $docId: unterminated FRAME header")
        pos = e + 1
        require(pos + ySize + 2 * cSize <= y4m.length,
          s"doc $docId: truncated frame $frames")
        var p = 0
        while (p < ySize) {
          val yv = y4m(pos + p) & 0xff
          ySum += yv
          yW += (frames.toLong * ySize + p + 1) * yv
          if (yv < yMin) yMin = yv
          if (yv > yMax) yMax = yv
          p += 1
        }
        var c = 0
        while (c < 2 * cSize) {
          uvSum += y4m(pos + ySize + c) & 0xff
          c += 1
        }
        pos += ySize + 2 * cSize
        frames += 1
      }
      require(frames > 0, s"doc $docId: no frames")
      Y4mInfo(docId, w.toLong, h.toLong, frames.toLong,
        ySum, yMin, yMax, yW, uvSum)
    }
  }

  /** Documents as synthesized y4m clips (one luma pixel per text codepoint
    * per frame, per-frame shift) — the video-table stand-in. */
  def asY4mMedia(spark: SparkSession, documents: DataFrame): Dataset[Y4mRow] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions(_.map { case (id, text) =>
        Y4mRow(id, Y4m.synthesize(id, text))
      })
  }

  /** Partition-local REAL decode: y4m container -> exact-integer per-clip
    * stats (every column BIGINT, so the DuckDB oracle reproduces the decode
    * from the generative formula bit for bit). */
  def decodeY4ms(spark: SparkSession, clips: Dataset[Y4mRow]): Dataset[Y4mInfo] = {
    import spark.implicits._
    clips.mapPartitions(_.map(r => Y4m.decode(r.doc_id, r.payload)))
  }

  /** Documents as synthesized BMP blobs (one 24bpp pixel per text
    * codepoint) — the image-table stand-in. */
  def asBmpMedia(spark: SparkSession, documents: DataFrame): Dataset[BmpRow] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions(_.map { case (id, text) =>
        BmpRow(id, Bmp.synthesize(id, text))
      })
  }

  /** Partition-local REAL decode: BMP container -> exact-integer pixel
    * stats (every column BIGINT, so the DuckDB oracle reproduces the decode
    * from the generative formula bit for bit). */
  def decodeBmps(spark: SparkSession, bmps: Dataset[BmpRow]): Dataset[BmpInfo] = {
    import spark.implicits._
    bmps.mapPartitions(_.map(r => Bmp.decode(r.doc_id, r.payload)))
  }

  /** Documents as synthesized WAV blobs (one PCM16 sample per text
    * codepoint) — the audio-table stand-in. */
  def asWavMedia(spark: SparkSession, documents: DataFrame): Dataset[WavRow] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions(_.map { case (id, text) =>
        WavRow(id, Wav.synthesize(id, text))
      })
  }

  /** Partition-local REAL decode: WAV container -> exact-integer PCM stats
    * (every column BIGINT, so the DuckDB oracle reproduces the decode from
    * the generative formula bit for bit). */
  def decodeWavs(spark: SparkSession, wavs: Dataset[WavRow]): Dataset[WavInfo] = {
    import spark.implicits._
    wavs.mapPartitions(_.map(r => Wav.decode(r.doc_id, r.payload)))
  }
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (harness extension): image/audio/video as
  * opaque `binary` columns with typed metadata, processed in batches.
  *
  * Codec-free container formats are decoded FOR REAL in pure JVM code:
  * uncompressed 24-bit BMP (header + pixel grid → dimensions, grayscale
  * statistics, 2×2 downsample) and PCM WAV (RIFF chunks → sample rate,
  * channels, duration, RMS, zero-crossing rate). JPEG and PNG are
  * decoded FOR REAL too, via the stock JDK's `javax.imageio.ImageIO`
  * (headless, zero extra dependencies) into the same image-feature
  * layout as BMP. Only genuinely codec-needing payloads (MP4 — no
  * video codec ships with the JDK) fall through to the clearly-marked
  * deterministic stub. The distributed shape is the same either way:
  * partition-level batching with a per-partition "model load" slot,
  * fixed-size output schema (mapPartitions ≈ the JVM analog of
  * mapInPandas batches).
  */
object Multimodal {

  final case class MediaMeta(
      id: Long, n_bytes: Int, header_hex: String, kind: String)
  final case class MediaFeature(id: Long, feature: Array[Float])
  final case class MediaInfo(
      id: Long, kind: String, width: Int, height: Int,
      sample_rate: Int, channels: Int, duration_s: Double)

  /** Byte-level metadata over a binary column — pure column expressions.
    * `header_hex`: first 4 bytes, the magic-number sniff a real pipeline
    * does before routing to a decoder.
    */
  def withByteStats(df: DataFrame, binCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(binCol)).as("n_bytes"),
      lower(hex(substring(col(binCol), 1, 4))).as("header_hex"),
      when(lower(hex(substring(col(binCol), 1, 2))) === "ffd8", "jpeg")
        .when(lower(hex(substring(col(binCol), 1, 4))) === "89504e47", "png")
        .when(lower(hex(substring(col(binCol), 1, 2))) === "424d", "bmp")
        // RIFF is a container family (WebP, AVI share the magic): require
      // the WAVE form type at offset 8 too, matching wavHeader — or the
      // sniff and the decoder disagree and image/video payloads route
      // down the audio path.
      .when(lower(hex(substring(col(binCol), 1, 4))) === "52494646" &&
        lower(hex(substring(col(binCol), 9, 4))) === "57415645", "wav")
        // ISO BMFF: "ftyp" at byte offset 4 (substring is 1-based).
        .when(lower(hex(substring(col(binCol), 5, 4))) === "66747970", "mp4")
        .otherwise("unknown").as("kind"))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  // ISO BMFF (MP4) is big-endian; be32 returns an unsigned Long so box
  // sizes past 2 GiB can't go negative in the walk arithmetic.
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  /** Parse an uncompressed 24-bit BMP: (width, height, pixelDataOffset).
    * None for anything that is not a plain bottom-up 24bpp BMP.
    */
  private def bmpHeader(b: Array[Byte]): Option[(Int, Int, Int)] =
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') None
    else {
      val w = le32(b, 18); val h = le32(b, 22)
      val bpp = le16(b, 28); val compression = le32(b, 30)
      val off = le32(b, 10)
      // Size arithmetic in Long: a crafted w near 2^30 overflows w*3 in
      // Int, sneaking a negative stride past the bounds check and then
      // throwing AIOOBE in the pixel loop instead of returning None.
      val stride = ((w.toLong * 3 + 3) / 4) * 4
      if (bpp != 24 || compression != 0 || w <= 0 || h <= 0 || off < 54 ||
        off.toLong + stride * h.toLong > b.length) None
      else Some((w, h, off))
    }

  /** REAL image decode (no codec needed): grayscale statistics and a 2×2
    * mean-gray downsample over the BMP pixel grid — the resize/feature
    * step of an image pipeline, exact to the byte. Feature layout:
    * [mean, std, q00, q01, q10, q11, aspect, 1.0].
    */
  /** Shared grayscale-stat + 2×2 quadrant accumulator — the ONE
    * definition of the luma-derived feature layout, so the documented
    * cross-format comparability of BMP and JPEG/PNG features cannot
    * drift between two hand-synchronized loops. Row-major (y outer,
    * x inner) accumulation order is part of the contract: FP summation
    * order moves the low bits, and the PNG-equals-BMP-exactly gate
    * depends on them.
    */
  private final class GrayStats(w: Int, h: Int) {
    private var sum = 0.0
    private var sumSq = 0.0
    private val quad = new Array[Double](4)
    private val quadN = new Array[Long](4)
    def add(x: Int, y: Int, gray: Double): Unit = {
      sum += gray; sumSq += gray * gray
      val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
      quad(q) += gray; quadN(q) += 1
    }
    def features(): Array[Float] = {
      val n = w.toLong * h
      val mean = sum / n
      val variance = math.max(0.0, sumSq / n - mean * mean)
      Array(
        mean.toFloat, math.sqrt(variance).toFloat,
        (if (quadN(0) > 0) quad(0) / quadN(0) else 0.0).toFloat,
        (if (quadN(1) > 0) quad(1) / quadN(1) else 0.0).toFloat,
        (if (quadN(2) > 0) quad(2) / quadN(2) else 0.0).toFloat,
        (if (quadN(3) > 0) quad(3) / quadN(3) else 0.0).toFloat,
        (w.toDouble / h).toFloat, 1.0f)
    }
  }

  def decodeBmpFeatures(b: Array[Byte]): Option[Array[Float]] =
    bmpHeader(b).map { case (w, h, off) =>
      val stride = ((w * 3 + 3) / 4) * 4
      val st = new GrayStats(w, h)
      var y = 0
      while (y < h) {
        // BMP rows are stored bottom-up; row y on screen is h-1-y in file.
        val row = off + (h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val p = row + x * 3
          st.add(x, y, (u8(b, p) * 0.114 + u8(b, p + 1) * 0.587 +
            u8(b, p + 2) * 0.299) / 255.0)
          x += 1
        }
        y += 1
      }
      st.features()
    }

  // ImageIO's default scratch is a DISK cache file per read — wrong on
  // executors (tmp churn, no benefit for in-memory byte arrays).
  javax.imageio.ImageIO.setUseCache(false)

  /** Magic sniff for the two JDK-decodable compressed image formats. */
  private def isJpegOrPng(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      (((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) ||
        ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'))

  /** (width, height, "jpeg"|"png") from the image HEADER only — an
    * ImageReader probe, no pixel decode (mediaInfo must stay cheap on
    * large payloads).
    */
  private def imageHeader(b: Array[Byte]): Option[(Int, Int, String)] =
    if (!isJpegOrPng(b)) None
    else try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            Some((r.getWidth(0), r.getHeight(0),
              r.getFormatName.toLowerCase match {
                case f if f.contains("png") => "png"
                case _ => "jpeg"
              }))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** REAL JPEG/PNG decode via the stock JDK (`javax.imageio.ImageIO`,
    * headless — no codec dependency): same grayscale-stat + 2×2
    * quadrant-downsample feature layout as [[decodeBmpFeatures]], same
    * luma coefficients, so image features are comparable across
    * container formats. None for anything ImageIO can't parse (the
    * caller then falls to the stub).
    */
  def decodeImageFeatures(b: Array[Byte]): Option[Array[Float]] =
    if (!isJpegOrPng(b)) None
    else try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val st = new GrayStats(w, h)
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val p = row(x)
            st.add(x, y, ((p & 0xff) * 0.114 + ((p >> 8) & 0xff) * 0.587 +
              ((p >> 16) & 0xff) * 0.299) / 255.0)
            x += 1
          }
          y += 1
        }
        Some(st.features())
      }
    } catch { case _: Exception => None }

  final case class Mp4Meta(
      duration_s: Double, n_tracks: Int, width: Int, height: Int)

  /** REAL MP4 container parse (ISO base-media box walk — no codec
    * needed for the CONTAINER, only for the frames): `ftyp` sniff, then
    * `moov`/`mvhd` for timescale + presentation duration and
    * `moov`/`trak`/`tkhd` for the track count and the largest track's
    * 16.16-fixed display dimensions. Handles version-0 and version-1
    * full boxes, 64-bit `largesize` boxes, and size-0 extends-to-end
    * boxes; any malformed size aborts to None (same strict contract as
    * [[bmpHeader]]/[[wavHeader]] — a crafted size must not read out of
    * bounds). Frame DECODE remains the stub below: the JDK ships no
    * video codec, and the container metadata is everything the
    * routing/dedup layers of a media pipeline key on.
    */
  private[multimodal] def mp4Header(b: Array[Byte]): Option[Mp4Meta] = {
    if (b == null || b.length < 12 ||
      !(b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'))
      return None
    // Walk the boxes in [start, end): f(type, payloadStart, payloadEnd)
    // per box, false aborting the whole parse (malformed input).
    def walk(start: Long, end: Long)(
        f: (String, Long, Long) => Boolean): Boolean = {
      var pos = start
      while (pos + 8 <= end) {
        val p = pos.toInt
        var size = be32(b, p)
        var hdr = 8L
        if (size == 1) {
          if (pos + 16 > end) return false
          size = be64(b, p + 8); hdr = 16
        } else if (size == 0) size = end - pos
        // Overflow-free bound: a crafted 64-bit largesize near
        // Long.MaxValue makes `pos + size` wrap negative and pass a
        // `pos + size > end` check; `end - pos` is small and
        // non-negative, so this form cannot wrap.
        if (size < hdr || size > end - pos) return false
        if (!f(new String(b, p + 4, 4, "ISO-8859-1"), pos + hdr, pos + size))
          return false
        pos += size
      }
      true
    }
    var duration = 0.0; var tracks = 0; var w = 0; var h = 0
    // Same last-resort net as bmpHeader/imageHeader: one hostile row
    // must yield None, never kill the task.
    val ok = try walk(0, b.length) { (t, s, e) =>
      if (t != "moov") true
      else walk(s, e) { (t2, s2, e2) =>
        val p2 = s2.toInt
        t2 match {
          case "mvhd" if e2 - s2 >= 20 =>
            u8(b, p2) match {
              case 1 if e2 - s2 >= 32 =>
                val ts = be32(b, p2 + 20)
                if (ts > 0) duration = be64(b, p2 + 24).toDouble / ts
              case 0 =>
                val ts = be32(b, p2 + 12)
                if (ts > 0) duration = be32(b, p2 + 16).toDouble / ts
              case _ => ()
            }
            true
          case "trak" =>
            tracks += 1
            walk(s2, e2) { (t3, s3, e3) =>
              // The version byte is payload: a header-only tkhd box
              // (size 8, s3 == e3 possibly == b.length) must not be
              // dereferenced — guard BEFORE the u8 read.
              if (t3 == "tkhd" && e3 - s3 >= 1) {
                val p3 = s3.toInt
                // width sits after version/flags, times, track id,
                // layer/volume/matrix: +76 (v0) / +88 (v1), 16.16 fixed.
                val woff = if (u8(b, p3) == 1) 88 else 76
                if (e3 - s3 >= woff + 8) {
                  val tw = (be32(b, p3 + woff) >> 16).toInt
                  val th = (be32(b, p3 + woff + 4) >> 16).toInt
                  // Keep the largest track's (w, h) as a PAIR: per-axis
                  // maxima across tracks could report dimensions that
                  // exist on no actual track (landscape + portrait
                  // tracks → a square that matches neither).
                  if (tw > 0 && th > 0 &&
                      tw.toLong * th > w.toLong * h) {
                    w = tw; h = th
                  }
                }
              }
              true
            }
          case _ => true
        }
      }
    } catch { case _: Exception => false }
    if (ok) Some(Mp4Meta(duration, tracks, w, h)) else None
  }

  /** Parse PCM WAV RIFF chunks: (sampleRate, channels, bitsPerSample,
    * dataOffset, dataBytes). None unless an intact PCM fmt+data pair.
    */
  private def wavHeader(b: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    if (b == null || b.length < 44 ||
      !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') ||
      !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'))
      return None
    // Chunk walk in Long: a crafted size near 2^31 overflows
    // `pos + 8 + size` in Int, passing the bounds check with a negative
    // sum and reading out of bounds. pos.toInt is safe once
    // `pos + 8 <= b.length` holds.
    var pos: Long = 12
    var fmt: Option[(Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None
    while (pos + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val p = pos.toInt
      val id = new String(b, p, 4, "US-ASCII")
      val size = le32(b, p + 4)
      if (size < 0 || pos + 8 + size > b.length) return None
      // audioFormat (le16 at +8) must be 1 = integer PCM; the sample loop
      // would misread float/compressed payloads as PCM otherwise.
      if (id == "fmt " && size >= 16 && le16(b, p + 8) == 1)
        fmt = Some((le32(b, p + 12), le16(b, p + 10), le16(b, p + 22)))
      else if (id == "data") data = Some((p + 8, size))
      pos += 8L + size + (size & 1) // chunks are 2-byte aligned
    }
    for ((rate, ch, bits) <- fmt; (off, n) <- data
      if rate > 0 && ch > 0 && (bits == 8 || bits == 16))
      yield (rate, ch, bits, off, n)
  }

  /** REAL audio decode (PCM needs no codec): RMS amplitude and
    * zero-crossing rate over the samples — the resample/feature step of
    * an audio pipeline. Feature layout: [rms, zcr, duration_s,
    * sample_rate/1e5, channels, bits/16, 0, 2.0].
    */
  def decodeWavFeatures(b: Array[Byte]): Option[Array[Float]] =
    wavHeader(b).map { case (rate, ch, bits, off, n) =>
      val bytesPer = bits / 8
      val nSamples = n / bytesPer
      var sumSq = 0.0
      var crossings = 0L
      var prevNeg = false
      var i = 0
      while (i < nSamples) {
        val v =
          if (bits == 16) le16(b, off + i * 2).toShort.toInt / 32768.0
          else (u8(b, off + i) - 128) / 128.0
        sumSq += v * v
        val neg = v < 0
        if (i > 0 && neg != prevNeg) crossings += 1
        prevNeg = neg
        i += 1
      }
      val duration = n.toDouble / (rate.toLong * ch * bytesPer)
      Array(
        (if (nSamples > 0) math.sqrt(sumSq / nSamples) else 0.0).toFloat,
        (if (nSamples > 1) crossings.toDouble / (nSamples - 1) else 0.0)
          .toFloat,
        duration.toFloat, rate / 1e5f, ch.toFloat, bits / 16.0f, 0.0f, 2.0f)
    }

  /** Typed per-format metadata (the "decoded header" table a media
    * pipeline keys on): real dimensions for BMP/JPEG/PNG, real sample
    * rate/channels/duration for WAV, real container duration and video
    * dimensions for MP4 (box walk — see [[mp4Header]]), zeros for
    * undecodable payloads.
    */
  def mediaInfo(
      df: DataFrame, binCol: String, idCol: String): Dataset[MediaInfo] = {
    val spark = df.sparkSession
    import spark.implicits._
    // A null (or non-castable) id would deserialize into the tuple's
    // primitive Long and kill the STAGE — the one hostile row this
    // module's decoders otherwise all survive. Dropped, like the
    // candidate streams drop them.
    df.select(col(idCol).cast("long"), col(binCol))
      .where(col(idCol).isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        bmpHeader(b) match {
          case Some((w, h, _)) => MediaInfo(id, "bmp", w, h, 0, 0, 0.0)
          case None =>
            wavHeader(b) match {
              case Some((rate, ch, bits, _, n)) =>
                MediaInfo(id, "wav", 0, 0, rate, ch,
                  n.toDouble / (rate.toLong * ch * (bits / 8)))
              case None =>
                imageHeader(b) match {
                  case Some((w, h, fmt)) => MediaInfo(id, fmt, w, h, 0, 0, 0.0)
                  case None =>
                    mp4Header(b) match {
                      case Some(m) =>
                        MediaInfo(id, "mp4", m.width, m.height, 0, 0,
                          m.duration_s)
                      case None => MediaInfo(id, "unknown", 0, 0, 0, 0, 0.0)
                    }
                }
            }
        }
      })
  }

  /** Batched decode + featurize over binary payloads: BMP and WAV route
    * to the pure-JVM decoders, JPEG/PNG to the JDK ImageIO decoder;
    * everything else falls through to the stub.
    *
    * ??? STUB (fallback only) ??? Video (MP4) FRAME decode would
    * happen here; the JDK ships no video codec, so those derive a
    * deterministic 8-dim fake feature from the payload's md5 — keeping
    * the distributed plumbing (partition-level batching, fixed-size
    * output schema) real and testable. The MP4 CONTAINER (duration,
    * track count, display dimensions) is parsed for real in
    * [[mp4Header]]/[[mediaInfo]].
    */
  def featurize(
      df: DataFrame,
      binCol: String,
      idCol: String): Dataset[MediaFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .where(col(idCol).isNotNull) // null id would kill the stage (see mediaInfo)
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // One digest instance per partition — the "per-batch model load"
        // slot a real compressed-format decoder/model would occupy.
        val md = java.security.MessageDigest.getInstance("MD5")
        batch.map { case (id, payload) =>
          val feature = decodeBmpFeatures(payload)
            .orElse(decodeWavFeatures(payload))
            .orElse(decodeImageFeatures(payload))
            .getOrElse(decodeStub(md, payload))
          MediaFeature(id, feature)
        }
      }
  }

  /** dHash downsample grid: 11×6 cells → 10 horizontal comparisons ×
    * 6 rows = 60 bits, exactly the width
    * [[graft.dedup.TextDedup.simHashCandidates]]'s pigeonhole banding
    * takes — image near-dup reuses the text near-dup join machinery
    * unchanged.
    */
  val DHashGridW = 11
  val DHashGridH = 6

  /** Integer-space dHash cell accumulator: per-cell luma sums and
    * pixel counts, compared by cross-multiplication — no division, no
    * floating point, so the hash replays bit-exactly in any engine
    * (the q75 DuckDB oracle restates it arithmetically). Cell of
    * pixel x is `x·gridW / w` (floor) — unequal cell sizes when the
    * dimension doesn't divide, which is why the comparison must be
    * `sumR·cntL > sumL·cntR`, not a sum compare.
    */
  private final class DHashCells(w: Int, h: Int) {
    // Cross-multiplication bound: |sum·cnt| <= 255000·cp² for cp
    // pixels per cell; Long holds it while cp <= ~6e6 (~400 Mpx
    // images). Fail LOUDLY past that instead of hashing wrong.
    require((w.toLong / DHashGridW + 1) * (h.toLong / DHashGridH + 1)
        <= 6000000L,
      s"image_dhash: $w x $h image has cells past the exact-integer " +
        "comparison bound (~400 Mpx) — downscale before hashing")
    private val sums = new Array[Long](DHashGridW * DHashGridH)
    private val cnts = new Array[Long](DHashGridW * DHashGridH)
    def add(x: Int, y: Int, lum: Int): Unit = {
      val i = (y * DHashGridH / h) * DHashGridW + (x * DHashGridW / w)
      sums(i) += lum
      cnts(i) += 1
    }
    def hash(): Long = {
      var fp = 0L
      var cy = 0
      while (cy < DHashGridH) {
        var cx = 0
        while (cx < DHashGridW - 1) {
          val i = cy * DHashGridW + cx
          if (sums(i + 1) * cnts(i) > sums(i) * cnts(i + 1))
            fp |= 1L << (cy * (DHashGridW - 1) + cx)
          cx += 1
        }
        cy += 1
      }
      fp
    }
  }

  /** 60-bit perceptual difference hash over an image payload, entirely
    * in INTEGER space: luma = `114·B + 587·G + 299·R` per pixel (the
    * 0–255000 integer form of the decoders' luma weights), box
    * downsample onto the 11×6 grid by exact integer cell bounds, bit
    * `cy·10 + cx` set iff the right cell's mean luma strictly exceeds
    * the left's (cross-multiplied — exact). 24-bit BMP decodes through
    * the pure-JVM parser, JPEG/PNG through JDK ImageIO; anything else
    * (or a corrupt payload) returns null. Two renderings of the SAME
    * pixel grid hash identically across container formats
    * (MultimodalSpec pins BMP == PNG bit-for-bit).
    */
  def dHash60(b: Array[Byte]): java.lang.Long =
    bmpHeader(b) match {
      case Some((w, h, off)) =>
        val acc = new DHashCells(w, h)
        val stride = ((w * 3 + 3) / 4) * 4
        var y = 0
        while (y < h) {
          val row = off + (h - 1 - y) * stride
          var x = 0
          while (x < w) {
            val p = row + x * 3
            acc.add(x, y,
              114 * u8(b, p) + 587 * u8(b, p + 1) + 299 * u8(b, p + 2))
            x += 1
          }
          y += 1
        }
        java.lang.Long.valueOf(acc.hash())
      case None =>
        if (!isJpegOrPng(b)) null
        else {
          // Decode failures are data (null hash); the DHashCells size
          // guard sits OUTSIDE the catch so an oversized-image require
          // stays LOUD instead of reading as "undecodable".
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(b))
            catch { case _: Exception => null }
          if (img == null) null
          else {
            val w = img.getWidth
            val h = img.getHeight
            val acc = new DHashCells(w, h)
            val row = new Array[Int](w)
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, row, 0, w)
              var x = 0
              while (x < w) {
                val p = row(x)
                acc.add(x, y, 114 * (p & 0xff) + 587 * ((p >> 8) & 0xff) +
                  299 * ((p >> 16) & 0xff))
                x += 1
              }
              y += 1
            }
            java.lang.Long.valueOf(acc.hash())
          }
        }
    }

  /** Per-image 60-bit dHash fingerprints:
    * `(idCol, dhash LONG)` — null ids and undecodable payloads drop
    * (no hash, no pair). Pure per-row compute via the codegen'd
    * [[graft.functions.ImageDHash]] expression — zero shuffle.
    */
  def imageDHashes(df: DataFrame, binCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol),
        org.apache.spark.sql.functions.call_function(
          "image_dhash", col(binCol)).as("dhash"))
      .where(col(idCol).isNotNull && col("dhash").isNotNull)

  /** Near-duplicate IMAGE pairs within Hamming distance `maxHamming`
    * of the 60-bit dHash — the perceptual twin of text SimHash dedup:
    * the fingerprint frame feeds
    * [[graft.dedup.TextDedup.simHashCandidates]] UNCHANGED (pigeonhole
    * chunk equi-join, guaranteed recall, exact Hamming verify), so the
    * scale story is the text path's — one shuffle on the chunk key,
    * AQE skew split on hot buckets, the 8-byte hash riding the join.
    * Returns `(a_id, b_id, hamming)` with `a_id < b_id`.
    */
  def imageNearDups(df: DataFrame, binCol: String, idCol: String,
      maxHamming: Int = 2): DataFrame =
    graft.dedup.TextDedup.simHashCandidates(
      // Widened at the SOURCE: the per-row decode+dHash is the
      // expensive part of this op, and a narrow fixture scan would run
      // it single-task inside the fingerprint persist fill (widen is a
      // no-op once the scan has >= default-parallelism partitions — at
      // scale this adds nothing).
      imageDHashes(graft.ops.Parallelism.widen(df), binCol, idCol)
        .withColumnRenamed("dhash", "simhash"),
      idCol, maxHamming)

  /** Encode a grayscale pixel grid as a REAL uncompressed 24-bit BMP
    * (bottom-up rows, 4-byte-aligned stride, R = G = B = pixel value):
    * the fixture-image generator for the oracle-checked image path —
    * [[dHash60]] must decode what this encodes back to the exact
    * pixel function, or q75's arithmetic oracle catches the drift.
    */
  def synthBmp(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"synthBmp $w x $h")
    val stride = ((w * 3 + 3) / 4) * 4
    val size = 54 + stride * h
    val b = new Array[Byte](size)
    def le16(o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
    }
    def le32(o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
      b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte
    }
    b(0) = 'B'; b(1) = 'M'
    le32(2, size); le32(10, 54) // file size, pixel offset
    le32(14, 40) // BITMAPINFOHEADER
    le32(18, w); le32(22, h)
    le16(26, 1); le16(28, 24) // planes, bpp
    le32(30, 0); le32(34, stride * h) // BI_RGB, image size
    var y = 0
    while (y < h) {
      val row = 54 + (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val v = (pixel(x, y) & 0xff).toByte
        val p = row + x * 3
        b(p) = v; b(p + 1) = v; b(p + 2) = v
        x += 1
      }
      y += 1
    }
    b
  }

  /** Deterministic fixture image for one id: pixels are md5-derived
    * (`first byte of md5("img-v1:<id/5>:<x>:<y>")`), SHARED across the
    * id's group of five (`id / 5`), with members `id % 5 > 0`
    * perturbing ONLY the two corner pixels (0, 0) and (w−1, h−1) by
    * `+ 51·(id % 5) (mod 256)` — changes confined to the first and
    * last downsample cells, so within-group dHashes differ by AT MOST
    * the two bits comparing those cells to their horizontal neighbors
    * and every within-group pair is a planted near-dup (Hamming ≤ 2)
    * with exact ground truth; the ×51 magnitude actually flips bits
    * on a fixture-sized corpus (the q75 sf0.001 mix is ~72/25/3% at
    * Hamming 0/1/2), so the band join and the Hamming verify are both
    * genuinely exercised. NON-NEGATIVE ids only, enforced loudly:
    * DuckDB's `//`/`%` truncate toward zero while floorDiv/floorMod
    * floor, so the two sides would silently compute DIFFERENT groups
    * and perturbations for a negative id — the distributed form
    * rejects them instead of diverging from the oracle.
    */
  def synthGroupImage(id: Long, w: Int, h: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    synthGroupImageWith(md, id, w, h)
  }

  private def synthGroupImageWith(md: java.security.MessageDigest,
      id: Long, w: Int, h: Int): Array[Byte] = {
    require(id >= 0,
      s"synthGroupImage: id $id is negative — the group arithmetic " +
        "(floorDiv/floorMod) diverges from the oracle's " +
        "truncating // and % below zero")
    val g = java.lang.Math.floorDiv(id, 5L)
    val m = java.lang.Math.floorMod(id, 5L).toInt
    synthBmp(w, h, (x, y) => {
      md.reset()
      val d = md.digest(
        s"img-v1:$g:$x:$y".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val v0 = d(0) & 0xff
      if (m > 0 && ((x == 0 && y == 0) || (x == w - 1 && y == h - 1)))
        (v0 + m * 51) % 256
      else v0
    })
  }

  /** The distributed form of [[synthGroupImage]]: one BMP payload per
    * id row — `(idCol, payload BINARY)`. mapPartitions (one digest
    * instance per partition), zero shuffle; null ids drop.
    */
  def synthGroupImages(ids: DataFrame, idCol: String, w: Int,
      h: Int): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long"))
      .where(col(idCol).isNotNull)
      .as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map(id => (id, synthGroupImageWith(md, id, w, h)))
      }
      .toDF(idCol, "payload")
  }

  /** ??? deterministic fake decode — the slot a real codec would fill. */
  private def decodeStub(
      md: java.security.MessageDigest,
      payload: Array[Byte]): Array[Float] = {
    md.reset()
    val d = md.digest(if (payload == null) Array.emptyByteArray else payload)
    val out = new Array[Float](8)
    var i = 0
    while (i < 8) {
      out(i) = ((d(2 * i) & 0xff) * 256 + (d(2 * i + 1) & 0xff)) / 65535.0f
      i += 1
    }
    out
  }
}

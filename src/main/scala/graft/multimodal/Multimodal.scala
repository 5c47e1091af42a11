package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Binary-column plumbing (an extension beyond the reference) for the
  * two declared queries that carry opaque payloads:
  *
  *  - q47: [[withByteStats]], byte-level metadata (length, leading
  *    bytes as hex) as pure column expressions;
  *  - q75 and the streaming image family: perceptual image near-dup.
  *    [[dHash60]] decodes a payload (24-bit BMP through the pure-JVM
  *    `bmpHeader` parser, JPEG/PNG through the stock JDK's headless
  *    `javax.imageio.ImageIO`) into a 60-bit integer-space difference
  *    hash, [[imageDHashes]] computes it per row and
  *    [[imageNearDups]] pairs the fingerprints through the text
  *    SimHash banding. [[synthBmp]] and [[synthGroupImages]] generate
  *    the oracle-checked fixture images.
  */
object Multimodal {

  /** Byte-level metadata over a binary column — pure column expressions:
    * `n_bytes`, and `header_hex`, the first 4 bytes in lowercase hex.
    */
  def withByteStats(df: DataFrame, binCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(binCol)).as("n_bytes"),
      lower(hex(substring(col(binCol), 1, 4))).as("header_hex"))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

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

  // ImageIO's default scratch is a DISK cache file per read — wrong on
  // executors (tmp churn, no benefit for in-memory byte arrays).
  javax.imageio.ImageIO.setUseCache(false)

  /** Magic sniff for the two JDK-decodable compressed image formats. */
  private def isJpegOrPng(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      (((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) ||
        ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'))

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
    * 0–255000 integer form of the Rec. 601 luma weights), box
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
}

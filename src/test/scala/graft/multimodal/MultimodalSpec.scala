package graft.multimodal

import graft.SparkSpec

/** The image near-dup path q75 and the streaming image family run:
  * [[Multimodal.dHash60]] against a driver-side integer reference
  * (BMP, PNG and malformed payloads), its perceptual robustness under
  * a lossy JPEG re-encode, and [[Multimodal.imageNearDups]]' exact
  * recall of the planted fixture pairs.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def putLe32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
    b(i + 2) = ((v >> 16) & 0xff).toByte; b(i + 3) = ((v >> 24) & 0xff).toByte
  }
  private def putLe16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
  }

  /** Real JPEG/PNG bytes, encoded by the same stock-JDK ImageIO the
    * decoder uses — no external fixture files or codecs needed.
    */
  private def makeImage(fmt: String, w: Int, h: Int)(
      pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pixel(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream
    assert(javax.imageio.ImageIO.write(img, fmt, bos),
      s"JDK has no $fmt writer")
    bos.toByteArray
  }

  test("dHash60: integer-space reference equality on random pixel " +
      "grids (uneven cells), BMP == PNG bit-for-bit, undecodable -> " +
      "null, synthBmp round-trips its pixel function") {
    val gw = Multimodal.DHashGridW
    val gh = Multimodal.DHashGridH
    // Driver-side reference written from the CONTRACT: integer luma
    // cells + cross-multiplied comparisons.
    def ref(w: Int, h: Int, pix: (Int, Int) => Int): Long = {
      val sums = Array.ofDim[Long](gh, gw)
      val cnts = Array.ofDim[Long](gh, gw)
      for (y <- 0 until h; x <- 0 until w) {
        val lum = 1000L * (pix(x, y) & 0xff) // r=g=b: 114+587+299
        sums(y * gh / h)(x * gw / w) += lum
        cnts(y * gh / h)(x * gw / w) += 1
      }
      var fp = 0L
      for (cy <- 0 until gh; cx <- 0 until gw - 1)
        if (sums(cy)(cx + 1) * cnts(cy)(cx) >
            sums(cy)(cx) * cnts(cy)(cx + 1))
          fp |= 1L << (cy * (gw - 1) + cx)
      fp
    }
    val r = new scala.util.Random(20260815L)
    // Sizes chosen so cells are UNEVEN (25 % 11 != 0, 14 % 6 != 0) as
    // well as exact; includes degenerate 1-px-cell rows.
    Seq((25, 14), (22, 12), (11, 6), (37, 19)).foreach { case (w, h) =>
      (0 until 3).foreach { _ =>
        val grid = Array.fill(h, w)(r.nextInt(256))
        val pix = (x: Int, y: Int) => grid(y)(x)
        val bmp = Multimodal.synthBmp(w, h, pix)
        val viaBmp = Multimodal.dHash60(bmp)
        assert(viaBmp != null, s"$w x $h BMP must decode")
        assert(viaBmp.longValue() == ref(w, h, pix),
          s"$w x $h BMP dHash != integer reference")
        // Same pixels through the LOSSLESS ImageIO path.
        val png = makeImage("png", w, h)((x, y) =>
          (grid(y)(x), grid(y)(x), grid(y)(x)))
        val viaPng = Multimodal.dHash60(png)
        assert(viaPng != null && viaPng.longValue() == viaBmp.longValue(),
          s"$w x $h PNG dHash != BMP dHash")
      }
    }
    assert(Multimodal.dHash60(null) == null)
    assert(Multimodal.dHash60(Array[Byte](1, 2, 3)) == null)
    assert(Multimodal.dHash60("RIFFxxxxWAVE".getBytes) == null)
    // Crafted BMP headers: each must be refused (null), never read out
    // of bounds. Width 2^30 overflows an Int `w * 3` stride to a
    // negative number that would pass the size check.
    def crafted(edit: Array[Byte] => Unit): Array[Byte] = {
      val b = Multimodal.synthBmp(4, 2, (_, _) => 7)
      edit(b); b
    }
    Seq(
      "width 0x40000000" -> crafted(putLe32(_, 18, 0x40000000)),
      "bpp 32" -> crafted(putLe16(_, 28, 32)),
      "compression 1" -> crafted(putLe32(_, 30, 1)),
      "pixel offset 40" -> crafted(putLe32(_, 10, 40)),
      "truncated pixels" -> crafted(_ => ()).dropRight(1)
    ).foreach { case (what, b) =>
      assert(Multimodal.dHash60(b) == null, s"crafted BMP ($what)")
    }
    // Negative ids fail LOUDLY: DuckDB's truncating // and % would
    // silently disagree with floorDiv/floorMod below zero.
    intercept[IllegalArgumentException] {
      Multimodal.synthGroupImage(-1L, 25, 14)
    }
    ()
  }

  test("dHash is PERCEPTUAL: lossy JPEG re-encode of a smooth image " +
      "stays within a small Hamming distance of the BMP hash, far " +
      "under the distance to an unrelated image") {
    // Smooth low-frequency content (diagonal gradient + a soft blob):
    // JPEG quantization perturbs pixels but cell MEANS survive, which
    // is the property dHash banks on. Integer pixel fn on both paths.
    val (w, h) = (88, 48)
    def smooth(x: Int, y: Int): Int = {
      val g = (x * 160) / (w - 1) + (y * 60) / (h - 1)
      val dx = x - 30; val dy = y - 20
      val blob = math.max(0, 35 - (dx * dx + dy * dy) / 12)
      math.min(255, g + blob)
    }
    val viaBmp = Multimodal.dHash60(Multimodal.synthBmp(w, h, smooth))
    // Explicit-quality JPEG encode: the default writer quality is a
    // JDK implementation detail, and this assertion's bound must not
    // float with the host's encoder defaults.
    val jpeg = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = smooth(x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(
        javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(0.85f)
      val bos = new java.io.ByteArrayOutputStream
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null,
          new javax.imageio.IIOImage(img, null, null), param)
      } finally { ios.close(); writer.dispose() }
      bos.toByteArray
    }
    val viaJpeg = Multimodal.dHash60(jpeg)
    assert(viaBmp != null && viaJpeg != null)
    val near = java.lang.Long.bitCount(
      viaBmp.longValue() ^ viaJpeg.longValue())
    // Unrelated content: an md5-noise image (a synthGroupImage).
    val other = Multimodal.dHash60(Multimodal.synthGroupImage(0L, w, h))
    val far = java.lang.Long.bitCount(
      viaBmp.longValue() ^ other.longValue())
    // The PRIMARY gate is relative (near << far): the absolute bit
    // distances depend on the host JDK's JPEG encoder output even at a
    // pinned explicit quality, so tight constants can flake on a
    // different JRE's libjpeg. The absolute bounds are kept LOOSE
    // (perceptual, not codec-exact) and the measured distances are
    // printed for drift forensics.
    info(s"jpeg robustness: near=$near far=$far (quality 0.85)")
    assert(near < far, s"near $near !< far $far")
    assert(near <= 12,
      s"JPEG re-encode moved the dHash $near bits — beyond any " +
        "perceptual-robustness claim")
    assert(far >= 10, s"unrelated image unexpectedly close: $far bits")
    assert(near + 4 <= far,
      s"near/far separation collapsed: near=$near far=$far")
  }

  test("imageNearDups: planted within-group pairs are recalled " +
      "EXACTLY (all 10 per group, Hamming <= 2, zero cross-group), " +
      "plan has no ScalaUDF / cartesian") {
    val ids = spark.range(50).toDF("doc_id")
    val imgs = Multimodal.synthGroupImages(ids, "doc_id", w = 25, h = 14)
    val pairs = Multimodal.imageNearDups(imgs, "payload", "doc_id",
      maxHamming = 2)
    val got = pairs.select("a_id", "b_id")
      .as[(Long, Long)].collect().toSet
    val want = (0L until 50L).groupBy(_ / 5).values.flatMap { g =>
      for (a <- g; b <- g if a < b) yield (a, b)
    }.toSet
    assert(got == want,
      s"planted recall: got ${got.size} pairs, want ${want.size}; " +
        s"missing ${(want -- got).take(5)}, spurious ${(got -- want).take(5)}")
    val ham = pairs.select("hamming").as[Long].collect()
    assert(ham.forall(_ <= 2))
    val ps = pairs.queryExecution.executedPlan.toString
    assert(!ps.contains("ScalaUDF"), ps)
    assert(!ps.contains("CartesianProduct") &&
      !ps.contains("BroadcastNestedLoop"), ps)
    assert(ps.contains("image_dhash") ||
      // the hash may sit inside the cached fingerprint subplan
      pairs.queryExecution.analyzed.toString.contains("image_dhash"), ps)
  }

}

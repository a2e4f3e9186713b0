package graft

import org.apache.spark.sql.functions._

/** plans.PngStats / plans.PngEncode: the COMPRESSED pixel decode pair.
  * The encoder writes fully valid PNGs (real Deflater, per-chunk CRCs,
  * zlib Adler) with pixel channels from seed arithmetic; the decoder
  * must invert the whole path — IDAT concatenation, zlib inflate, and
  * all five scanline filters — byte-exactly or the sums drift. Hostile
  * cases cover the failure modes a 100 TB scan will meet: truncated /
  * corrupted streams, geometry lies, out-of-range filter bytes. */
class PngStatsSpec extends SparkSpec {

  private def expected(w: Int, h: Int, seed: Long): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      sr += java.lang.Math.floorMod(seed + 3L * x + 7L * y, 256L)
      sg += java.lang.Math.floorMod(2L * seed + 5L * x + y, 256L)
      sb += java.lang.Math.floorMod(3L * seed + x + 11L * y, 256L)
    }
    (sr, sg, sb)
  }

  private def parsed(b: Array[Byte]): Option[(Int, Int, Long, Long, Long, Long)] =
    Option(graft.plans.PngStats.parse(b)).map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))

  test("encode -> parse round-trips exact channel sums, RGB and RGBA") {
    // h >= 5 cycles filter types 0..4: every predictor is exercised
    for (seed <- Seq(0L, 1L, 17L, 12345L); alpha <- Seq(false, true)) {
      val (w, h) = (4, 7)
      val png = graft.plans.PngEncode.encode(w, h, seed, alpha)
      assert(png != null)
      val (sr, sg, sb) = expected(w, h, seed)
      assert(parsed(png) === Some((w, h, sr, sg, sb, w.toLong * h)),
        s"seed=$seed alpha=$alpha")
    }
    // 1x1 (no left/up neighbors anywhere) and a wide single row
    assert(parsed(graft.plans.PngEncode.encode(1, 1, 9L, false)).isDefined)
    val row = graft.plans.PngEncode.encode(64, 1, 3L, true)
    val (sr, sg, sb) = expected(64, 1, 3L)
    assert(parsed(row) === Some((64, 1, sr, sg, sb, 64L)))
  }

  test("the compressed stream really is split across two IDAT chunks") {
    val png = graft.plans.PngEncode.encode(5, 6, 7L, false)
    val idats = new String(png.map(b => (b & 0xFF).toChar))
      .sliding(4).count(_ == "IDAT")
    assert(idats === 2, "encoder no longer certifies IDAT concatenation")
  }

  test("grayscale (color type 0) feeds the value into all three sums") {
    // hand-built: 3x2 gray, filter 0 rows, values 10..15
    val raw = Array[Byte](0, 10, 11, 12, 0, 13, 14, 15)
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](64)
    val n = defl.deflate(buf); defl.end()
    val png = sig ++ chunk("IHDR",
      be32(3) ++ be32(2) ++ Array[Byte](8, 0, 0, 0, 0)) ++
      chunk("IDAT", buf.take(n)) ++ chunk("IEND", Array.emptyByteArray)
    assert(parsed(png) === Some((3, 2, 75L, 75L, 75L, 6L)))
  }

  test("hostile inputs are NULL, never a throw") {
    val good = graft.plans.PngEncode.encode(4, 6, 11L, false)
    // corrupt one byte inside the first IDAT payload: Adler-32 (or the
    // Huffman stream) breaks -> DataFormatException path -> null
    val idatOff = good.indexOfSlice("IDAT".getBytes) + 6
    val badAdler = good.clone(); badAdler(idatOff) = (badAdler(idatOff) ^ 0x5A).toByte
    assert(graft.plans.PngStats.parse(badAdler) == null)
    // truncation at every prefix length
    (0 until good.length).foreach { k =>
      graft.plans.PngStats.parse(good.take(k)) // must not throw
    }
    // geometry lie: IHDR claims fewer rows than the stream carries
    val lied = good.clone()
    val hOff = 8 + 8 + 4 // sig + len/type + width
    lied(hOff + 3) = (lied(hOff + 3) - 1).toByte
    fixIhdrCrc(lied)
    assert(graft.plans.PngStats.parse(lied) == null, "trailing pixel data accepted")
    // filter byte out of range: deflate a raw stream with filter 9
    val raw = Array[Byte](9, 1, 2, 3, 1, 2, 3) // 2x1 RGB-ish? (w=2,h=1,bpp=3): 1+6 bytes
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](64); val n = defl.deflate(buf); defl.end()
    val badFilter = sig ++ chunk("IHDR",
      be32(2) ++ be32(1) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", buf.take(n)) ++ chunk("IEND", Array.emptyByteArray)
    assert(graft.plans.PngStats.parse(badFilter) == null)
    // unsupported shapes: bit depth 16, palette (3), interlace 2
    // (Adam7 = 1 is SUPPORTED now; 2 is out of spec)
    for (ihdr <- Seq(
        be32(2) ++ be32(2) ++ Array[Byte](16, 2, 0, 0, 0),
        be32(2) ++ be32(2) ++ Array[Byte](8, 3, 0, 0, 0),
        be32(2) ++ be32(2) ++ Array[Byte](8, 2, 0, 0, 2))) {
      val p = sig ++ chunk("IHDR", ihdr) ++
        chunk("IDAT", Array[Byte](1, 2, 3)) ++ chunk("IEND", Array.emptyByteArray)
      assert(graft.plans.PngStats.parse(p) == null)
    }
    // hostile geometry: header claims 65536 x 65536 (raw > MaxRawBytes)
    val huge = sig ++ chunk("IHDR",
      be32(65536) ++ be32(65536) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", Array[Byte](1)) ++ chunk("IEND", Array.emptyByteArray)
    assert(graft.plans.PngStats.parse(huge) == null)
  }

  test("expression path (codegen): struct fields and nulls through SQL") {
    import spark.implicits._
    val rows = Seq(
      (1L, graft.plans.PngEncode.encode(3, 5, 21L, false)),
      (2L, "not a png at all".getBytes),
      (3L, graft.plans.PngEncode.encode(2, 6, 22L, true)))
    val df = rows.toDF("id", "b")
    val out = df.selectExpr("id", "graft_png_stats(b) AS s")
      .selectExpr("id", "s.width", "s.sum_r", "s.n_pixels")
      .orderBy("id").collect()
    val (sr1, _, _) = expected(3, 5, 21L)
    assert(out(0).getInt(1) === 3 && out(0).getLong(2) === sr1 &&
      out(0).getLong(3) === 15L)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(2).getInt(1) === 2)
  }

  test("palette PNGs (colorType 3) decode at depths 1/2/4/8; ImageIO agrees per pixel") {
    for {
      depth <- Seq(1, 2, 4, 8)
      (w, h, seed) <- Seq((9, 7, 3L), (16, 16, 42L), (1, 5, 0L), (13, 2, 7L))
    } {
      val png = graft.plans.PngEncode.encodePalette(w, h, seed, depth)
      assert(png != null)
      val nColors = 1 << depth
      def m(v: Long) = java.lang.Math.floorMod(v, 256L).toInt
      // third-party per-pixel check of the packed-index encoder
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, s"ImageIO rejected palette PNG depth=$depth ($w x $h)")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = java.lang.Math.floorMod(seed + x + 2L * y, nColors.toLong).toInt
        val rgb = img.getRGB(x, y)
        assert(((rgb >> 16) & 0xFF) === m(seed + 5L * idx), s"R($x,$y) d=$depth")
        assert(((rgb >> 8) & 0xFF) === m(2L * seed + 3L * idx), s"G($x,$y) d=$depth")
        assert((rgb & 0xFF) === m(seed + 7L * idx + 1L), s"B($x,$y) d=$depth")
        sr += m(seed + 5L * idx); sg += m(2L * seed + 3L * idx); sb += m(seed + 7L * idx + 1L)
      }
      // our decoder's sums
      val r = graft.plans.PngStats.parse(png)
      assert(r != null, s"palette PNG refused depth=$depth")
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"palette sums diverge depth=$depth ($w x $h)")
    }
    // hostile: truncations stay total; a palette image without PLTE is null
    val good = graft.plans.PngEncode.encodePalette(9, 7, 1L, 4)
    var i = 0
    while (i < good.length) {
      graft.plans.PngStats.parse(java.util.Arrays.copyOf(good, i))
      i += 1
    }
  }

  test("16-bit PNGs decode: sums equal the 8-bit twin's (high-byte projection)") {
    for {
      channels <- Seq(1, 3, 4)
      (w, h, seed) <- Seq((9, 7, 3L), (16, 16, 42L), (1, 1, 0L))
    } {
      val p16 = graft.plans.PngEncode.encode16(w, h, seed, channels)
      assert(p16 != null)
      val r16 = graft.plans.PngStats.parse(p16)
      assert(r16 != null, s"16-bit PNG refused (ch=$channels $w x $h)")
      // the 8-bit twin: gray uses the R formula in all channels
      if (channels == 1) {
        var sg = 0L
        for (y <- 0 until h; x <- 0 until w)
          sg += java.lang.Math.floorMod(seed + 3L * x + 7L * y, 256L)
        assert(r16.getLong(2) === sg && r16.getLong(3) === sg && r16.getLong(4) === sg)
      } else {
        val p8 = graft.plans.PngEncode.encode(w, h, seed, channels == 4)
        val r8 = graft.plans.PngStats.parse(p8)
        assert(r16.getLong(2) === r8.getLong(2) && r16.getLong(3) === r8.getLong(3) &&
          r16.getLong(4) === r8.getLong(4), s"16-bit sums diverge (ch=$channels $w x $h)")
      }
      // ImageIO reads the same file (conformance witness); its 16->8
      // conversion may round differently, so bound per channel per px
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p16))
      assert(img != null && img.getWidth === w && img.getHeight === h)
    }
    // truncation fuzz over the 16-bit stream
    val good = graft.plans.PngEncode.encode16(9, 7, 1L, 3)
    var i = 0
    while (i < good.length) {
      graft.plans.PngStats.parse(java.util.Arrays.copyOf(good, i))
      i += 1
    }
  }

  test("Adam7-interlaced PNGs decode to the same sums; ImageIO agrees per pixel") {
    for {
      alpha <- Seq(false, true)
      (w, h, seed) <- Seq((2, 6, 3L), (9, 9, 42L), (17, 12, 0L), (1, 1, 7L), (8, 3, 11L))
    } {
      val seqPng = graft.plans.PngEncode.encode(w, h, seed, alpha)
      val ilcPng = graft.plans.PngEncode.encodeAdam7(w, h, seed, alpha)
      // third-party check first: the JDK decodes the interlaced file to
      // EXACTLY the formula pixels (PNG is lossless), proving the
      // Adam7 ENCODER writes a conformant stream
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ilcPng))
      assert(img != null, s"ImageIO rejected the Adam7 stream ($w x $h alpha=$alpha)")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        def m(v: Long) = java.lang.Math.floorMod(v, 256L).toInt
        assert(((rgb >> 16) & 0xFF) === m(seed + 3L * x + 7L * y), s"R($x,$y)")
        assert(((rgb >> 8) & 0xFF) === m(2L * seed + 5L * x + y), s"G($x,$y)")
        assert((rgb & 0xFF) === m(3L * seed + x + 11L * y), s"B($x,$y)")
      }
      // then OUR decoder: interlaced sums equal the sequential ones
      val a = graft.plans.PngStats.parse(seqPng)
      val b = graft.plans.PngStats.parse(ilcPng)
      assert(b != null, s"interlaced PNG refused ($w x $h alpha=$alpha)")
      assert(a.getLong(2) === b.getLong(2) && a.getLong(3) === b.getLong(3) &&
        a.getLong(4) === b.getLong(4), s"sums diverge ($w x $h alpha=$alpha)")
      assert(b.getInt(0) === w && b.getInt(1) === h)
    }
    // hostile: truncating the interlaced stream anywhere stays total
    val good = graft.plans.PngEncode.encodeAdam7(9, 9, 1L, false)
    var i = 0
    while (i < good.length) {
      graft.plans.PngStats.parse(java.util.Arrays.copyOf(good, i))
      i += 1
    }
  }

  test("APNG frames decode independently with exact sums; plain PNGs are frame 0") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    for {
      nf <- Seq(1, 2, 3, 5)
      (w, h, seed) <- Seq((9, 7, 3L), (16, 16, 42L), (2, 6, 0L))
    } {
      val apng = graft.plans.PngEncode.encodeApng(w, h, nf, seed)
      assert(apng != null)
      val arr = graft.plans.PngFrames.parse(apng).asInstanceOf[ArrayData]
      assert(arr != null && arr.numElements() === nf, s"nf=$nf $w x $h")
      for (f <- 0 until nf) {
        val r = arr.getStruct(f, 9)
        assert(r.getInt(0) === f && r.getInt(3) === w && r.getInt(4) === h)
        val fs = seed + 17L * f
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          sr += java.lang.Math.floorMod(fs + 3L * x + 7L * y, 256L)
          sg += java.lang.Math.floorMod(2L * fs + 5L * x + y, 256L)
          sb += java.lang.Math.floorMod(3L * fs + x + 11L * y, 256L)
        }
        assert(r.getLong(5) === sr && r.getLong(6) === sg && r.getLong(7) === sb,
          s"frame $f sums (nf=$nf $w x $h)")
      }
      // frame 0 of the animation is also what the single-image decoder
      // and ImageIO (APNG-unaware: reads the default image) see
      val first = graft.plans.PngStats.parse(apng)
      assert(first != null && first.getInt(0) === w)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(apng))
      assert(img != null && img.getWidth === w,
        "APNG must stay a valid plain PNG to APNG-unaware decoders")
    }
    // a PLAIN PNG serves as its own single frame through the same API
    val plain = graft.plans.PngEncode.encode(9, 7, 5L, false)
    val one = graft.plans.PngFrames.parse(plain).asInstanceOf[ArrayData]
    assert(one.numElements() === 1)
    assert(one.getStruct(0, 9).getLong(5) ===
      graft.plans.PngStats.parse(plain).getLong(2))
    // truncation fuzz
    val good = graft.plans.PngEncode.encodeApng(9, 7, 3, 1L)
    var i = 0
    while (i < good.length) {
      graft.plans.PngFrames.parse(java.util.Arrays.copyOf(good, i))
      i += 1
    }
  }

  test("registered query round-trips its stored PNGs at sf0.001") {
    val out = graft.operators.Multimodal.pngPixels(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val d = r.getLong(0)
      if (d % 103 == 0) {
        assert(r.isNullAt(1) && r.isNullAt(3), s"corrupt doc $d decoded")
      } else {
        val w = (d % 5 + 2).toInt; val h = (d % 4 + 5).toInt
        val (sr, sg, sb) = expected(w, h, d)
        assert(r.getInt(1) === w && r.getInt(2) === h, s"doc $d dims")
        assert(r.getLong(3) === sr && r.getLong(4) === sg && r.getLong(5) === sb,
          s"doc $d sums")
        assert(r.getLong(6) === w.toLong * h)
      }
    }
  }

  // ---- byte builders (spec layouts, independent of the encoder) ----
  private def sig: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
  private def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes); crc.update(data)
    be32(data.length.toLong) ++ typ.getBytes ++ data ++ be32(crc.getValue)
  }
  private def fixIhdrCrc(png: Array[Byte]): Unit = {
    val crc = new java.util.zip.CRC32()
    crc.update(png, 12, 4 + 13)
    System.arraycopy(be32(crc.getValue), 0, png, 12 + 4 + 13, 4)
  }
}

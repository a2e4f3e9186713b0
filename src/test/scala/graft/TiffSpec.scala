package graft

import graft.plans.{TiffEncode, TiffPixels}

/** Baseline-TIFF strip decode: encode→parse round trips across byte
  * orders, gray/RGB, and strip layouts; an ImageIO differential; and
  * the decline envelope (compressed / planar / deep TIFFs are
  * triage-only, never wrong-valued). */
class TiffSpec extends SparkSpec {

  private def m(v: Long) = java.lang.Math.floorMod(v, 256L)

  test("exact channel sums round-trip across modes and strip layouts") {
    for {
      (w, h) <- Seq((1, 1), (4, 4), (9, 7), (16, 11))
      mode <- 0 to 11 // x4: uncompressed / LZW / LZW+predictor
      rps <- Seq(1, 3, 100) // single row, partial last strip, one strip
    } {
      val seed = 13L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"encode failed w=$w h=$h mode=$mode rps=$rps")
      val r = TiffPixels.parse(t)
      assert(r != null, s"parse failed w=$w h=$h mode=$mode rps=$rps")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        if (mode % 4 >= 2) { val g = m(seed + 5L * x + 3L * y); sr += g; sg += g; sb += g }
        else {
          sr += m(seed + 3L * x + 7L * y)
          sg += m(2L * seed + 5L * x + y)
          sb += m(3L * seed + x + 11L * y)
        }
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"sums diverge w=$w h=$h mode=$mode rps=$rps")
      assert(r.getLong(5) === w.toLong * h)
    }
  }

  test("the JDK's ImageIO TIFF reader agrees per pixel, both byte orders") {
    for (mode <- 0 to 11) {
      val (w, h, seed) = (11, 9, 311L)
      val t = TiffEncode.encode(w, h, seed, mode, 4)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
      assert(img != null, s"ImageIO rejected the encoder's output (mode=$mode)")
      assert(img.getWidth === w && img.getHeight === h)
      // raw raster samples, not getRGB: the JDK routes TYPE_BYTE_GRAY
      // through a linear color space and getRGB would gamma-convert
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        if (mode % 4 >= 2) {
          val g = m(seed + 5L * x + 3L * y).toInt
          assert(raster.getSample(x, y, 0) === g, s"gray($x,$y) mode=$mode")
        } else {
          assert(raster.getSample(x, y, 0) === m(seed + 3L * x + 7L * y).toInt, s"R($x,$y) mode=$mode")
          assert(raster.getSample(x, y, 1) === m(2L * seed + 5L * x + y).toInt, s"G($x,$y) mode=$mode")
          assert(raster.getSample(x, y, 2) === m(3L * seed + x + 11L * y).toInt, s"B($x,$y) mode=$mode")
        }
      }
    }
  }

  test("tiled organization round-trips, multi-tile and padded-edge alike") {
    // 40x35 with 16x16 tiles = 3x3 grid with padded right/bottom edges;
    // 7x5 = one wholly-padded tile — the padding must never be summed
    for {
      (w, h) <- Seq((40, 35), (7, 5), (16, 16), (33, 17))
      mode <- 12 to 23
    } {
      val seed = 7L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, 1000)
      assert(t != null, s"tiled encode failed w=$w h=$h mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"tiled parse failed w=$w h=$h mode=$mode")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        if (mode % 4 >= 2) { val g = m(seed + 5L * x + 3L * y); sr += g; sg += g; sb += g }
        else {
          sr += m(seed + 3L * x + 7L * y)
          sg += m(2L * seed + 5L * x + y)
          sb += m(3L * seed + x + 11L * y)
        }
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"tiled sums diverge w=$w h=$h mode=$mode")
    }
    // ImageIO conformance witness on a multi-tile LZW+predictor file
    val t = TiffEncode.encode(40, 35, 99L, 20, 1000)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
    assert(img != null, "ImageIO rejected the tiled output")
    val raster = img.getRaster
    for (y <- 0 until 35; x <- 0 until 40) {
      assert(raster.getSample(x, y, 0) === m(99L + 3L * x + 7L * y).toInt, s"R($x,$y)")
      assert(raster.getSample(x, y, 1) === m(2L * 99L + 5L * x + y).toInt, s"G($x,$y)")
      assert(raster.getSample(x, y, 2) === m(3L * 99L + x + 11L * y).toInt, s"B($x,$y)")
    }
    // a file claiming BOTH strip and tile organizations is corrupt
    val both = TiffEncode.encode(8, 6, 5L, 0, 2)
    val tiledGood = TiffEncode.encode(8, 6, 5L, 12, 2)
    assert(TiffPixels.parse(both) != null && TiffPixels.parse(tiledGood) != null)
  }

  test("LZW width transitions: ImageIO decodes a strip crossing 9→10→11 bits") {
    // 80x60 RGB = 14400 bytes/strip: thousands of dictionary entries,
    // so the early-change width schedule actually exercises 10 and 11
    // bits — the JDK reader is the external witness that the
    // encoder's lagged-counter schedule is the spec's
    for (mode <- Seq(4, 8)) {
      val (w, h, seed) = (80, 60, 17L)
      val t = TiffEncode.encode(w, h, seed, mode, 1000) // one big strip
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
      assert(img != null, s"ImageIO rejected the LZW output (mode=$mode)")
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        assert(raster.getSample(x, y, 0) === m(seed + 3L * x + 7L * y).toInt, s"R($x,$y) mode=$mode")
        assert(raster.getSample(x, y, 1) === m(2L * seed + 5L * x + y).toInt, s"G($x,$y) mode=$mode")
        assert(raster.getSample(x, y, 2) === m(3L * seed + x + 11L * y).toInt, s"B($x,$y) mode=$mode")
      }
      // and our decoder agrees with itself on the same stream
      val r = TiffPixels.parse(t)
      assert(r != null && r.getInt(0) === w && r.getInt(1) === h)
    }
  }

  test("PackBits strips round-trip; JDK differential both directions") {
    import graft.plans.TiffPackBits
    // encode→parse exact sums across the 4-way matrix, multi-strip
    for {
      (w, h) <- Seq((1, 1), (9, 7), (16, 11))
      mode <- 64 to 67
      rps <- Seq(1, 3, 100)
    } {
      val seed = 13L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"encode failed mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"parse failed mode=$mode rps=$rps")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        if ((mode - 64) % 4 >= 2) { val g = m(seed + 5L * x + 3L * y); sr += g; sg += g; sb += g }
        else {
          sr += m(seed + 3L * x + 7L * y)
          sg += m(2L * seed + 5L * x + y)
          sb += m(3L * seed + x + 11L * y)
        }
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"PackBits sums diverge w=$w h=$h mode=$mode rps=$rps")
    }
    // forward differential: ImageIO reads our PackBits output per-pixel
    for (mode <- 64 to 67) {
      val (w, h, seed) = (11, 9, 311L)
      val t = TiffEncode.encode(w, h, seed, mode, 4)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
      assert(img != null, s"ImageIO rejected the PackBits output (mode=$mode)")
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        if ((mode - 64) % 4 >= 2)
          assert(raster.getSample(x, y, 0) === m(seed + 5L * x + 3L * y).toInt)
        else {
          assert(raster.getSample(x, y, 0) === m(seed + 3L * x + 7L * y).toInt)
          assert(raster.getSample(x, y, 1) === m(2L * seed + 5L * x + y).toInt)
          assert(raster.getSample(x, y, 2) === m(3L * seed + x + 11L * y).toInt)
        }
      }
    }
    // reverse differential: the JDK writer's OWN PackBits stream
    val (w, h) = (37, 29)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      // long flat runs + varying tails: both packet kinds in play
      img.setRGB(x, y, (if (x < 20) 200 << 16 else (x * 31 + y) % 256 << 16) |
        ((y % 3) << 8) | ((x + y * 11) % 256))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("PackBits")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    val r = TiffPixels.parse(bos.toByteArray)
    assert(r != null, "our decoder refused the JDK writer's PackBits TIFF")
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      sr += (if (x < 20) 200 else (x * 31 + y) % 256)
      sg += y % 3
      sb += (x + y * 11) % 256
    }
    assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
      "sums diverge from the JDK's PackBits stream")
    // hostile inputs: truncated stream / overrunning packet decline
    val good = TiffEncode.encode(9, 7, 5L, 64, 3)
    for (n <- 0 until good.length) TiffPixels.parse(good.take(n)) // never throws
    // a literal packet claiming bytes past the input must refuse
    val out = new Array[Byte](8)
    assert(!TiffPackBits.decode(Array[Byte](7, 1, 2), 0, 3, out))
    // a repeat run overflowing the output must refuse
    assert(!TiffPackBits.decode(Array[Byte](-127, 1), 0, 2, out))
    // exact fill accepted (run of 8 = control -7), shortfall refused
    assert(TiffPackBits.decode(Array[Byte](-7, 9), 0, 2, out))
    assert(!TiffPackBits.decode(Array[Byte](-6, 9), 0, 2, out))
    // the -128 no-op is skipped
    assert(TiffPackBits.decode(Array[Byte](-128, -7, 9), 0, 3, out))
    ()
  }

  test("4-bit packed palettes round-trip; indices map through the 16-entry ColorMap") {
    import graft.plans.TiffPixels
    for {
      (w, h) <- Seq((1, 1), (9, 7), (17, 11)) // odd widths: row padding
      mode <- 68 to 71 // bit 0 = byte order, bit 1 = LZW
      rps <- Seq(1, 3, 100)
    } {
      val seed = 13L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"encode failed mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"parse failed mode=$mode rps=$rps")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = ((seed + 5L * x + 3L * y) % 16).toInt
        sr += idx * 17
        sg += ((2 * idx) % 16) * 17
        sb += ((3 * idx) % 16) * 17
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"4-bit palette sums diverge w=$w h=$h mode=$mode rps=$rps")
    }
    // forward JDK differential: ImageIO resolves the same indices
    for (mode <- Seq(68, 69)) {
      val (w, h, seed) = (11, 9, 311L)
      val t = TiffEncode.encode(w, h, seed, mode, 4)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
      assert(img != null, s"ImageIO rejected the 4-bit palette output (mode=$mode)")
      for (y <- 0 until h; x <- 0 until w) {
        val idx = ((seed + 5L * x + 3L * y) % 16).toInt
        val rgb = img.getRGB(x, y)
        assert(((rgb >> 16) & 0xFF) === idx * 17, s"R($x,$y) mode=$mode")
        assert(((rgb >> 8) & 0xFF) === ((2 * idx) % 16) * 17, s"G($x,$y)")
        assert((rgb & 0xFF) === ((3 * idx) % 16) * 17, s"B($x,$y)")
      }
    }
    // index-width / ColorMap-size disagreement declines: rewrite the
    // BitsPerSample of a 4-bit file to 8 (map stays 16 entries)
    val good = TiffEncode.encode(9, 7, 5L, 68, 3)
    assert(TiffPixels.parse(good) != null)
    for (n <- 0 until good.length) TiffPixels.parse(good.take(n)) // never throws
  }

  test("LZW width transitions: our decoder reads the JDK writer's LZW output") {
    // reverse differential: the JDK's own TIFF writer compresses with
    // LZW; our decoder must reproduce the pixels exactly — arbitrates
    // the DECODER's width schedule against an independent encoder
    val (w, h) = (73, 59)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 31 + y * 17) % 256 << 16) |
        ((x * 7 + y * 3) % 256 << 8) | ((x + y * 11) % 256))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    val r = TiffPixels.parse(bos.toByteArray)
    assert(r != null, "our decoder refused the JDK writer's LZW TIFF")
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      sr += (x * 31 + y * 17) % 256
      sg += (x * 7 + y * 3) % 256
      sb += (x + y * 11) % 256
    }
    assert(r.getInt(0) === w && r.getInt(1) === h)
    assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
      "sums diverge from the JDK's LZW stream")
  }

  test("planar configuration 2 round-trips: plane index is the channel") {
    for {
      (w, h) <- Seq((1, 1), (9, 7), (16, 11))
      mode <- 24 to 35
      rps <- Seq(2, 100)
    } {
      val seed = 11L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"planar encode failed w=$w h=$h mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"planar parse failed w=$w h=$h mode=$mode rps=$rps")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        if (mode % 4 >= 2) { val g = m(seed + 5L * x + 3L * y); sr += g; sg += g; sb += g }
        else {
          sr += m(seed + 3L * x + 7L * y)
          sg += m(2L * seed + 5L * x + y)
          sb += m(3L * seed + x + 11L * y)
        }
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"planar sums diverge w=$w h=$h mode=$mode rps=$rps")
    }
    // ImageIO conformance witness on a multi-strip planar LZW+pred file
    val t = TiffEncode.encode(11, 9, 311L, 32, 3)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
    assert(img != null, "ImageIO rejected the planar output")
    val raster = img.getRaster
    for (y <- 0 until 9; x <- 0 until 11) {
      assert(raster.getSample(x, y, 0) === m(311L + 3L * x + 7L * y).toInt, s"R($x,$y)")
      assert(raster.getSample(x, y, 1) === m(2L * 311L + 5L * x + y).toInt, s"G($x,$y)")
      assert(raster.getSample(x, y, 2) === m(3L * 311L + x + 11L * y).toInt, s"B($x,$y)")
    }
  }

  test("16-bit samples decode by their high byte (PNG-16 convention)") {
    for {
      (w, h) <- Seq((1, 1), (9, 7), (16, 11))
      mode <- 36 to 47
      rps <- Seq(2, 100)
    } {
      val seed = 17L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"16-bit encode failed w=$w h=$h mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"16-bit parse failed w=$w h=$h mode=$mode rps=$rps")
      // fixture samples are v*257, so high-byte sums equal the 8-bit
      // formula sums exactly
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        if (mode % 4 >= 2) { val g = m(seed + 5L * x + 3L * y); sr += g; sg += g; sb += g }
        else {
          sr += m(seed + 3L * x + 7L * y)
          sg += m(2L * seed + 5L * x + y)
          sb += m(3L * seed + x + 11L * y)
        }
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"16-bit sums diverge w=$w h=$h mode=$mode rps=$rps")
    }
    // ImageIO conformance witness (16-bit BE RGB LZW, no predictor —
    // the JDK's reader refuses 16-bit + horizontal differencing, so
    // that combination is certified by our own pair above): v*257
    // scales to 16-bit full range, so the JDK's raster must read
    // v*257 per sample
    val t = TiffEncode.encode(11, 9, 311L, 41, 3)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
    assert(img != null, "ImageIO rejected the 16-bit output")
    val raster = img.getRaster
    for (y <- 0 until 9; x <- 0 until 11) {
      assert(raster.getSample(x, y, 0) === m(311L + 3L * x + 7L * y).toInt * 257, s"R($x,$y)")
      assert(raster.getSample(x, y, 1) === m(2L * 311L + 5L * x + y).toInt * 257, s"G($x,$y)")
      assert(raster.getSample(x, y, 2) === m(3L * 311L + x + 11L * y).toInt * 257, s"B($x,$y)")
    }
  }

  test("palette (ColorMap) strips round-trip; JDK differential both directions") {
    // modes 48-51: the pixel stores the gray-formula INDEX; decoded
    // channels are the ColorMap high bytes (i, 2i%256, 3i%256)
    for {
      (w, h) <- Seq((1, 1), (9, 7), (16, 11))
      mode <- 48 to 51
      rps <- Seq(1, 3, 100)
    } {
      val seed = 19L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"palette encode failed w=$w h=$h mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"palette parse failed w=$w h=$h mode=$mode rps=$rps")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = m(seed + 5L * x + 3L * y)
        sr += idx; sg += (2 * idx) % 256; sb += (3 * idx) % 256
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"palette sums diverge w=$w h=$h mode=$mode rps=$rps")
    }
    // forward differential: the JDK reads our palette LZW file and its
    // IndexColorModel resolves every pixel to the same 8-bit channels
    val t = TiffEncode.encode(11, 9, 311L, 50, 3)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
    assert(img != null, "ImageIO rejected the palette output")
    for (y <- 0 until 9; x <- 0 until 11) {
      val idx = m(311L + 5L * x + 3L * y).toInt
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xFF) === idx, s"R($x,$y)")
      assert(((rgb >> 8) & 0xFF) === (2 * idx) % 256, s"G($x,$y)")
      assert((rgb & 0xFF) === (3 * idx) % 256, s"B($x,$y)")
    }
    // reverse differential: the JDK WRITES an indexed TIFF (its own
    // photometric-3 layout and 16-bit colormap scaling) and our
    // decoder reproduces the palette-resolved sums exactly
    val (w2, h2) = (13, 8)
    val cr = Array.tabulate(256)(i => i.toByte)
    val cg = Array.tabulate(256)(i => ((2 * i) % 256).toByte)
    val cb2 = Array.tabulate(256)(i => ((3 * i) % 256).toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, cr, cg, cb2)
    val idxImg = new java.awt.image.BufferedImage(w2, h2,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h2; x <- 0 until w2)
      idxImg.getRaster.setSample(x, y, 0, (x * 5 + y * 3) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    writer.setOutput(ios)
    writer.write(idxImg)
    ios.close(); writer.dispose()
    val r2 = TiffPixels.parse(bos.toByteArray)
    assert(r2 != null, "our decoder refused the JDK's indexed TIFF")
    var sr2 = 0L; var sg2 = 0L; var sb3 = 0L
    for (y <- 0 until h2; x <- 0 until w2) {
      val idx = (x * 5 + y * 3) % 256
      sr2 += idx; sg2 += (2 * idx) % 256; sb3 += (3 * idx) % 256
    }
    assert(r2.getInt(0) === w2 && r2.getInt(1) === h2)
    assert(r2.getLong(2) === sr2 && r2.getLong(3) === sg2 && r2.getLong(4) === sb3,
      "sums diverge from the JDK's indexed TIFF")
  }

  test("16-bit palettes round-trip: the 65536-entry ColorMap, both byte orders") {
    // modes 80-83: the pixel stores a 16-BIT index in the FILE byte
    // order ((seed+5x+3y)%65536 — both bytes load-bearing); the map's
    // planes fold mod 256, so channel sums share the 8-bit closed form
    for {
      (w, h) <- Seq((1, 1), (9, 7), (16, 11))
      mode <- 80 to 83
      rps <- Seq(1, 3, 100)
    } {
      val seed = 23L * w + h + mode + 60000 // indices cross the 8-bit line
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"pal16 encode failed w=$w h=$h mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"pal16 parse failed w=$w h=$h mode=$mode rps=$rps")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = ((seed + 5L * x + 3L * y) % 65536).toInt
        sr += idx % 256; sg += (2 * idx) % 256; sb += (3 * idx) % 256
      }
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === sr && r.getLong(3) === sg && r.getLong(4) === sb,
        s"pal16 sums diverge w=$w h=$h mode=$mode rps=$rps")
    }
    // byte order is LOAD-BEARING for 16-bit indices: flipping the
    // header's order marker over the same strip bytes must change the
    // decode (or decline) — it cannot silently agree
    val le = TiffEncode.encode(9, 7, 60123L, 80, 3)
    val be = TiffEncode.encode(9, 7, 60123L, 81, 3)
    val rLe = TiffPixels.parse(le); val rBe = TiffPixels.parse(be)
    assert(rLe != null && rBe != null)
    assert(rLe.getLong(2) === rBe.getLong(2), "same pixels, same sums")
    // a 16-bit palette whose ColorMap is SHORT (256 entries) declines:
    // index width and map size must agree
    val widthLie = TiffEncode.encode(9, 7, 60123L, 48, 3) // 8-bit palette
    assert(TiffPixels.parse(widthLie) != null)

    // forward differential: the JDK's TIFF reader resolves our 16-bit
    // palette file through its own IndexColorModel, per pixel
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(le))
    assert(img != null, "ImageIO rejected the 16-bit palette output")
    for (y <- 0 until 7; x <- 0 until 9) {
      val idx = ((60123L + 5L * x + 3L * y) % 65536).toInt
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xFF) === idx % 256, s"R($x,$y)")
      assert(((rgb >> 8) & 0xFF) === (2 * idx) % 256, s"G($x,$y)")
      assert((rgb & 0xFF) === (3 * idx) % 256, s"B($x,$y)")
    }
    // reverse differential: the JDK WRITES a 16-bit indexed TIFF (its
    // own layout and colormap scaling) and our decoder reproduces the
    // palette-resolved sums exactly
    val n = 65536
    val cr = Array.tabulate(n)(i => (i % 256).toByte)
    val cg = Array.tabulate(n)(i => ((2 * i) % 256).toByte)
    val cb2 = Array.tabulate(n)(i => ((3 * i) % 256).toByte)
    val icm = new java.awt.image.IndexColorModel(16, n, cr, cg, cb2)
    val raster = icm.createCompatibleWritableRaster(5, 4)
    val bi = new java.awt.image.BufferedImage(icm, raster, false, null)
    for (y <- 0 until 4; x <- 0 until 5)
      raster.setSample(x, y, 0, (x * 300 + y * 7) % 65536)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    writer.setOutput(ios); writer.write(bi); ios.close(); writer.dispose()
    val r3 = TiffPixels.parse(bos.toByteArray)
    assert(r3 != null, "our decoder refused the JDK's 16-bit indexed TIFF")
    var sr3 = 0L; var sg3 = 0L; var sb4 = 0L
    for (y <- 0 until 4; x <- 0 until 5) {
      val idx = (x * 300 + y * 7) % 65536
      sr3 += idx % 256; sg3 += (2 * idx) % 256; sb4 += (3 * idx) % 256
    }
    assert(r3.getInt(0) === 5 && r3.getInt(1) === 4)
    assert(r3.getLong(2) === sr3 && r3.getLong(3) === sg3 && r3.getLong(4) === sb4,
      "sums diverge from the JDK's 16-bit indexed TIFF")
  }

  test("LZW codec property: exhaustive prefixes and random buffers round-trip") {
    // the regression this pins: the encoder wrote EOI at the lagged
    // width, desyncing exactly when a width boundary landed at the
    // stream end — found by prefix sweep, invisible to spot sizes
    val rnd = new scala.util.Random(0xABCD)
    val base = new Array[Byte](16 * 16 * 3)
    rnd.nextBytes(base)
    for (len <- 1 to base.length) {
      val pre = base.take(len)
      val enc = graft.plans.TiffLzw.encode(pre)
      val out = new Array[Byte](pre.length)
      assert(graft.plans.TiffLzw.decode(enc, 0, enc.length, out) &&
        java.util.Arrays.equals(pre, out), s"prefix $len diverges")
    }
    for (trial <- 0 until 300) {
      val n = 1 + rnd.nextInt(6000)
      val d = new Array[Byte](n)
      rnd.nextBytes(d)
      // half the trials: low-entropy data (dictionary-heavy streams
      // crossing several width transitions)
      if (rnd.nextBoolean()) {
        var i = 0; while (i < n) { d(i) = (d(i) % 4).toByte; i += 1 }
      }
      val enc = graft.plans.TiffLzw.encode(d)
      val out = new Array[Byte](n)
      assert(graft.plans.TiffLzw.decode(enc, 0, enc.length, out) &&
        java.util.Arrays.equals(d, out), s"trial $trial (n=$n) diverges")
    }
  }

  test("16-bit tiles and separate planes decode like 16-bit chunky strips") {
    // the organizations must be sum-equivalent: a 16-bit sample v*257
    // decodes by its high byte (= v) whatever the layout, so every
    // mode pair below reports IDENTICAL channel sums for the same
    // (w, h, seed) — tiles incl. padded edges, planes incl. multi-strip
    for (seed <- Seq(5L, 77L); (w, h) <- Seq((8, 6), (17, 19), (16, 16))) {
      def sums(mode: Int): (Long, Long, Long) = {
        val r = TiffPixels.parse(TiffEncode.encode(w, h, seed, mode, 3))
        assert(r != null, s"mode=$mode w=$w h=$h")
        (r.getLong(2), r.getLong(3), r.getLong(4))
      }
      val rgb8 = sums(0) // 8-bit LE RGB chunky: the reference sums
      val gray8 = sums(2)
      for (m <- Seq(72, 73)) assert(sums(m) === rgb8, s"16-bit RGB tiles mode $m")
      for (m <- Seq(74, 75)) assert(sums(m) === gray8, s"16-bit gray tiles mode $m")
      for (m <- Seq(76, 77)) assert(sums(m) === rgb8, s"16-bit RGB planes mode $m")
      for (m <- Seq(78, 79)) assert(sums(m) === gray8, s"16-bit gray planes mode $m")
    }
  }

  test("out-of-envelope TIFFs decline to NULL instead of guessing") {
    val good = TiffEncode.encode(8, 6, 5L, 0, 2)
    assert(TiffPixels.parse(good) != null)
    // entry layout: IFD at read32(4); entry e value field at ifd+2+12e+8
    def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16) |
        ((b(i + 3) & 0xFF) << 24)
    val ifd = le32(good, 4)
    def withValue(entryIdx: Int, v: Int): Array[Byte] = {
      val c = good.clone()
      val off = ifd + 2 + 12 * entryIdx + 8
      c(off) = (v & 0xFF).toByte; c(off + 1) = ((v >> 8) & 0xFF).toByte
      c
    }
    // entries (ascending): 0=256, 1=257, 2=258, 3=259(Compression),
    // 4=262(Photometric), 5=273, 6=277(SamplesPerPixel), 7=278, 8=279,
    // 9=284(Planar)
    // claiming LZW over raw (non-LZW) strip bytes fails the decode
    assert(TiffPixels.parse(withValue(3, 5)) == null)
    // claiming planar=2 without the per-plane strip layout declines
    assert(TiffPixels.parse(withValue(9, 2)) == null)
    // palette photometric on an RGB (spp=3, no ColorMap) file declines
    assert(TiffPixels.parse(withValue(4, 3)) == null)
    // a gray file claiming 3 samples/px (inconsistent) declines
    val grayBad = {
      val g = TiffEncode.encode(8, 6, 5L, 2, 2)
      val i2 = le32(g, 4)
      val c = g.clone(); c(i2 + 2 + 12 * 6 + 8) = 3; c
    }
    assert(TiffPixels.parse(grayBad) == null)
    // truncations never throw and never accept a partial raster; only
    // the trailing next-IFD pointer (which the decoder never reads) is
    // allowed to be missing
    val ifdComplete = ifd + 2 + 12 * 10
    for (n <- 0 until good.length)
      assert(TiffPixels.parse(good.take(n)) == null || n >= ifdComplete,
        s"prefix $n accepted")
    // header triage still reads dims from the same file (family
    // coherence: graft_img_meta and graft_tiff_pixels agree)
    val meta = graft.plans.ImageMeta.parse(good)
    assert(meta != null && meta.getInt(1) === 8 && meta.getInt(2) === 6)
  }

  test("sub-8-bit packed gray/bilevel round-trips; JDK differential both directions") {
    // modes 52-63: 1/2/4-bit packed samples, MSB-first, rows
    // byte-aligned — width sweep crosses every per-byte alignment
    // (w%8 = 0..7 for 1-bit, w%4 and w%2 for 2/4-bit); the 1-bit
    // modes carry NO BitsPerSample tag (spec default)
    for {
      (w, h) <- Seq((1, 1), (7, 5), (8, 4), (9, 7), (16, 11), (13, 3))
      mode <- 52 to 63
      rps <- Seq(1, 3, 100)
    } {
      val bits = Array(1, 2, 4)((mode - 52) / 4)
      val seed = 23L * w + h + mode
      val t = TiffEncode.encode(w, h, seed, mode, rps)
      assert(t != null, s"sub-byte encode failed w=$w h=$h mode=$mode")
      val r = TiffPixels.parse(t)
      assert(r != null, s"sub-byte parse failed w=$w h=$h mode=$mode rps=$rps")
      var s = 0L
      for (y <- 0 until h; x <- 0 until w)
        s += java.lang.Math.floorMod(seed + 5L * x + 3L * y, 1L << bits)
      assert(r.getInt(0) === w && r.getInt(1) === h)
      assert(r.getLong(2) === s && r.getLong(3) === s && r.getLong(4) === s,
        s"sub-byte sums diverge w=$w h=$h mode=$mode rps=$rps (bits=$bits)")
      assert(r.getLong(5) === w.toLong * h)
    }
    // forward differential: the JDK reads our packed files and its
    // raster hands back the same raw samples (photometric-1 modes —
    // the raster is polarity-agnostic but getRGB is not)
    for (mode <- Seq(52, 54, 56, 58, 60, 62)) {
      val bits = Array(1, 2, 4)((mode - 52) / 4)
      val (w, h, seed) = (11, 9, 311L)
      val t = TiffEncode.encode(w, h, seed, mode, 4)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t))
      assert(img != null, s"ImageIO rejected the sub-byte output (mode=$mode)")
      assert(img.getWidth === w && img.getHeight === h)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        val v = java.lang.Math.floorMod(seed + 5L * x + 3L * y, 1L << bits).toInt
        assert(raster.getSample(x, y, 0) === v, s"sample($x,$y) mode=$mode bits=$bits")
      }
    }
    // reverse differential: the JDK WRITES a 1-bit binary TIFF (its
    // own bilevel layout) and our decoder reproduces the bit sums
    val (w2, h2) = (13, 6)
    val binImg = new java.awt.image.BufferedImage(w2, h2,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until h2; x <- 0 until w2)
      binImg.getRaster.setSample(x, y, 0, (x + y) % 2)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    writer.setOutput(ios)
    // force no compression: bilevel TIFFs otherwise tend toward CCITT
    // fax encodings, which are outside the decode envelope by design
    val wp = writer.getDefaultWriteParam
    wp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    writer.write(null, new javax.imageio.IIOImage(binImg, null, null), wp)
    ios.close(); writer.dispose()
    val r2 = TiffPixels.parse(bos.toByteArray)
    assert(r2 != null, "our decoder refused the JDK's bilevel TIFF")
    var s2 = 0L
    for (y <- 0 until h2; x <- 0 until w2) s2 += (x + y) % 2
    assert(r2.getInt(0) === w2 && r2.getInt(1) === h2)
    assert(r2.getLong(2) === s2 && r2.getLong(3) === s2 && r2.getLong(4) === s2,
      "sums diverge from the JDK's bilevel TIFF")
  }

  test("SQL registration: graft_tiff_pixels composes with graft_tiff_encode") {
    val r = spark.sql(
      """SELECT graft_tiff_pixels(graft_tiff_encode(
        |  5, 4, CAST(21 AS BIGINT), 1, 2)) AS s""".stripMargin)
      .selectExpr("s.width", "s.height", "s.n_pixels").head()
    assert(r.getInt(0) === 5 && r.getInt(1) === 4 && r.getLong(2) === 20L)
  }
}

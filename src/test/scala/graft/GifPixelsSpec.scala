package graft

/** plans.GifPixels / plans.GifEncode: the LZW pixel decode pair. The
  * encoder writes fully valid GIF89a streams (real variable-width LZW
  * with dictionary growth, a Graphic Control extension, 64-color
  * GCT); the decoder must invert the whole path — extension skip,
  * sub-block reassembly, LSB-first code unpacking, dictionary
  * growth/reset, KwKwK, palette lookup — byte-exactly or the sums
  * drift. Hostile cases cover truncation, bad codes, interlace, and
  * geometry lies. */
class GifPixelsSpec extends SparkSpec {

  private def expected(w: Int, h: Int, seed: Long): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val i = java.lang.Math.floorMod(seed + x + 2L * y, 64L)
      sr += java.lang.Math.floorMod(seed + 5L * i, 256L)
      sg += java.lang.Math.floorMod(2L * seed + 3L * i, 256L)
      sb += java.lang.Math.floorMod(seed + 7L * i + 1L, 256L)
    }
    (sr, sg, sb)
  }

  private def parsed(b: Array[Byte]): Option[(Int, Int, Long, Long, Long, Long)] =
    Option(graft.plans.GifPixels.parse(b)).map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))

  test("encode -> parse round-trips exact channel sums across dict-growth sizes") {
    // 1x1 (single literal + EOI), a row, and frames big enough to push
    // the code width 7 -> 8 -> 9 bits (one dict entry per ~pixel)
    for ((w, h) <- Seq((1, 1), (17, 1), (9, 11), (16, 16), (32, 28), (120, 90));
         seed <- Seq(0L, 5L, 12345L)) {
      val gif = graft.plans.GifEncode.encode(w, h, seed)
      assert(gif != null)
      val (sr, sg, sb) = expected(w, h, seed)
      assert(parsed(gif) === Some((w, h, sr, sg, sb, w.toLong * h)),
        s"w=$w h=$h seed=$seed")
    }
  }

  test("a frame past 4096 dict entries forces the mid-stream Clear reset") {
    // 64 colors, index = (x + 2y) mod 64: enough distinct (prev, next)
    // pairs accumulate over ~256x64 pixels to overflow the dictionary,
    // so the encoder emits Clear and the decoder must rebuild
    val (w, h) = (256, 64)
    val gif = graft.plans.GifEncode.encode(w, h, 1L)
    val (sr, sg, sb) = expected(w, h, 1L)
    assert(parsed(gif) === Some((w, h, sr, sg, sb, w.toLong * h)))
  }

  test("the Graphic Control extension is present and skipped") {
    val gif = graft.plans.GifEncode.encode(4, 3, 2L)
    // 0x21 0xF9 sits right after the 64-entry GCT (13 + 192)
    assert((gif(205) & 0xFF) === 0x21 && (gif(206) & 0xFF) === 0xF9,
      "encoder no longer certifies the extension-skip path")
    assert(parsed(gif).isDefined)
  }

  test("hostile inputs are NULL, never a throw") {
    val good = graft.plans.GifEncode.encode(16, 16, 7L)
    // truncation at every prefix length
    (0 until good.length).foreach { k =>
      graft.plans.GifPixels.parse(good.take(k)) // must not throw
    }
    // corrupt the LZW stream: flip a byte inside the first data
    // sub-block (after GCT 13+192, GCE 8, descriptor 10, min-code 1,
    // sub-block length 1)
    val bad = good.clone()
    val dataOff = 13 + 192 + 8 + 10 + 2
    bad(dataOff) = (bad(dataOff) ^ 0x7F).toByte
    graft.plans.GifPixels.parse(bad) // corrupt codes: null or wrong sums, no throw
    // interlace flag set -> decodes (sums are row-order-invariant);
    // flipping the flag on sequential data permutes rows only, so the
    // sums equal the unflagged decode
    val inter = good.clone()
    inter(13 + 192 + 8 + 9) = 0x40.toByte
    val flagged = graft.plans.GifPixels.parse(inter)
    val straight = graft.plans.GifPixels.parse(good)
    assert(flagged != null && flagged.getLong(2) === straight.getLong(2))
    // geometry lie: descriptor claims one more row than the stream has
    val lied = good.clone()
    val hOff = 13 + 192 + 8 + 7
    lied(hOff) = ((lied(hOff) & 0xFF) + 1).toByte
    assert(graft.plans.GifPixels.parse(lied) == null, "pixel shortfall accepted")
    // trailer before any image frame
    val noFrame = good.take(13 + 192) ++ Array(0x3B.toByte)
    assert(graft.plans.GifPixels.parse(noFrame) == null)
    // no color table anywhere: LSD flag cleared, no LCT
    val noPal = ("GIF89a".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 2, 0, 0x00, 0, 0)) ++ // LSD, GCT flag off
      Array[Byte](0x2C, 0, 0, 0, 0, 4, 0, 2, 0, 0) ++
      Array[Byte](6, 1, 0x10, 0, 0x3B)
    assert(graft.plans.GifPixels.parse(noPal) == null)
    // hostile geometry: descriptor claims 16M+ pixels
    val huge = ("GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0, 0x7F.toByte, 0, 0x7F.toByte, 0x80.toByte, 0, 0)) ++
      Array.fill(6)(0.toByte) ++ // 2-entry GCT
      Array[Byte](0x2C, 0, 0, 0, 0, 0, 0x7F.toByte, 0, 0x7F.toByte, 0) ++
      Array[Byte](2, 1, 0x04, 0, 0x3B)
    assert(graft.plans.GifPixels.parse(huge) == null)
    // GIF87a version accepted; bad versions rejected
    assert(graft.plans.GifPixels.parse(
      "GIF88a it is not".getBytes("US-ASCII")) == null)
    assert(graft.plans.GifPixels.parse("x".getBytes) == null)
    assert(graft.plans.GifPixels.parse(Array.emptyByteArray) == null)
  }

  test("a local color table overrides the global one") {
    // hand-built 2x1, GCT all-zero, LCT carries the real colors;
    // uncompressed-style LZW: clear(4) lit(0) lit(1) eoi(5), min=2 ->
    // 3-bit codes, LSB-first bytes
    val codes = Seq(4, 0, 1, 5)
    var acc = 0L; var bits = 0
    val dataB = scala.collection.mutable.ArrayBuffer[Byte]()
    codes.foreach { c => acc |= (c.toLong << bits); bits += 3 }
    while (bits > 0) { dataB += (acc & 0xFF).toByte; acc >>>= 8; bits -= 8 }
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Byte](2, 0, 1, 0, 0x80.toByte, 0, 0)) ++ // GCT flag, 2 entries
      Array.fill(6)(0.toByte) ++                      // GCT: black,black
      (Array[Byte](0x2C, 0, 0, 0, 0, 2, 0, 1, 0, 0x80.toByte) ++ // LCT flag, 2 entries
       Array[Byte](10, 20, 30, 40, 50, 60) ++        // LCT
       Array[Byte](2, dataB.length.toByte) ++ dataB.toArray ++
       Array[Byte](0, 0x3B))
    assert(parsed(gif) === Some((2, 1, 50L, 70L, 90L, 2L)))
  }

  test("expression path (codegen): struct fields and nulls through SQL") {
    import spark.implicits._
    val rows = Seq(
      (1L, graft.plans.GifEncode.encode(6, 5, 21L)),
      (2L, "definitely not a gif".getBytes),
      (3L, graft.plans.GifEncode.encode(16, 16, 22L)))
    val df = rows.toDF("id", "b")
    val out = df.selectExpr("id", "graft_gif_pixels(b) AS s")
      .selectExpr("id", "s.width", "s.sum_r", "s.n_pixels")
      .orderBy("id").collect()
    val (sr1, _, _) = expected(6, 5, 21L)
    assert(out(0).getInt(1) === 6 && out(0).getLong(2) === sr1 &&
      out(0).getLong(3) === 30L)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(2).getInt(1) === 16)
  }

  test("animated encode -> frames decode round-trips every frame exactly") {
    for {
      seed <- Seq(0L, 7L, 999L)
      nf <- Seq(1, 2, 3, 5)
      (w, h) <- Seq((12, 10), (27, 21), (16, 16))
    } {
      val gif = graft.plans.GifEncode.encodeAnim(w, h, nf, seed)
      assert(gif != null)
      val arr = graft.plans.GifFrames.parse(gif)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert(arr.numElements() === nf, s"seed=$seed nf=$nf $w x $h")
      for (f <- 0 until nf) {
        val r = arr.getStruct(f, 9)
        assert(r.getInt(0) === f && r.getInt(3) === w && r.getInt(4) === h)
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val idx = java.lang.Math.floorMod(seed + 7L * f + x + 2L * y, 64L)
          sr += java.lang.Math.floorMod(seed + 5L * idx, 256L)
          sg += java.lang.Math.floorMod(2L * seed + 3L * idx, 256L)
          sb += java.lang.Math.floorMod(seed + 7L * idx + 1L, 256L)
        }
        assert(r.getLong(5) === sr && r.getLong(6) === sg && r.getLong(7) === sb,
          s"frame $f sums (seed=$seed $w x $h)")
        assert(r.getLong(8) === w.toLong * h)
      }
      // the single-frame decoder still reads frame 0 of the animation
      val first = graft.plans.GifPixels.parse(gif)
      assert(first != null && first.getInt(0) === w)
    }
  }

  test("hostile animated inputs are NULL or truncated, never a throw") {
    val good = graft.plans.GifEncode.encodeAnim(14, 11, 3, 5L)
    var i = 0
    while (i < good.length) {
      graft.plans.GifFrames.parse(java.util.Arrays.copyOf(good, i))
      i += 1
    }
    for (j <- 2 until good.length by 3) {
      val bad = good.clone()
      bad(j) = (bad(j) ^ 0x5A).toByte
      graft.plans.GifFrames.parse(bad)
    }
    assert(graft.plans.GifFrames.parse("nope".getBytes("UTF-8")) === null)
    // a frame bomb stops at the cap instead of ballooning
    val many = graft.plans.GifEncode.encodeAnim(4, 4, 16, 1L)
    val out = new java.io.ByteArrayOutputStream()
    out.write(many, 0, many.length - 1) // drop the trailer
    // append the same 16 frames' bytes 8 more times (128 extra frames)
    val body = java.util.Arrays.copyOfRange(many,
      13 + 3 * 64, many.length - 1) // after header+GCT
    for (_ <- 0 until 8) out.write(body, 0, body.length)
    out.write(0x3B)
    val bomb = out.toByteArray
    val arr = graft.plans.GifFrames.parse(bomb)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr != null && arr.numElements() === graft.plans.GifFrames.MaxFrames)
  }

  test("interlaced frames decode to the same sums as sequential ones") {
    for ((w, h, seed) <- Seq((16, 16, 3L), (27, 21, 42L), (12, 9, 0L))) {
      val seq = graft.plans.GifEncode.encode(w, h, seed)
      val ilc = graft.plans.GifEncode.encodeInterlaced(w, h, seed)
      // really flagged interlaced
      assert((ilc(13 + 3 * 64 + 9) & 0x40) != 0, "interlace flag missing")
      val a = graft.plans.GifPixels.parse(seq)
      val b = graft.plans.GifPixels.parse(ilc)
      assert(b != null, "interlaced frame refused")
      assert(a.getLong(2) === b.getLong(2) && a.getLong(3) === b.getLong(3) &&
        a.getLong(4) === b.getLong(4), s"sums diverge at $w x $h seed=$seed")
      assert(b.getInt(0) === w && b.getInt(1) === h)
    }
    // the 4-pass order is a permutation of 0..h-1 for every height
    for (h <- 1 to 40)
      assert(graft.plans.GifEncode.interlaceOrder(h).sorted.toSeq === (0 until h))
  }

  test("registered query round-trips its stored GIFs at sf0.001") {
    val out = graft.operators.Multimodal.gifPixelsQ(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val d = r.getLong(0)
      if (d % 107 == 0) {
        assert(r.isNullAt(1) && r.isNullAt(3), s"corrupt doc $d decoded")
      } else {
        val w = (d % 17 + 16).toInt; val h = (d % 13 + 16).toInt
        val (sr, sg, sb) = expected(w, h, d)
        assert(r.getInt(1) === w && r.getInt(2) === h, s"doc $d dims")
        assert(r.getLong(3) === sr && r.getLong(4) === sg && r.getLong(5) === sb,
          s"doc $d sums")
        assert(r.getLong(6) === w.toLong * h)
      }
    }
  }

  test("geometry sweep: every (w, h) grid cell round-trips exactly") {
    // the TIFF LZW pair had a stream-end width-boundary bug only a
    // dense sweep exposed; this is the GIF pair's equivalent net —
    // 1440 combos crossing several code-width transitions, each
    // compared to the closed-form sums
    for (w <- 1 to 48; h <- 1 to 10; seed <- Seq(0L, 7L, 77L)) {
      val g = graft.plans.GifEncode.encode(w, h, seed)
      assert(g != null, s"encode null w=$w h=$h seed=$seed")
      val r = graft.plans.GifPixels.parse(g)
      assert(r != null, s"parse null w=$w h=$h seed=$seed")
      var sr = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = java.lang.Math.floorMod(seed + x + 2L * y, 64L)
        sr += java.lang.Math.floorMod(seed + 5L * idx, 256L)
      }
      assert(r.getLong(2) === sr, s"sum_r diverges w=$w h=$h seed=$seed")
    }
  }
}

package graft

import graft.plans.{Mp4Encode, Mp4Meta}

/** ISO-BMFF (MP4) box-tree triage: encode→parse round trips across
  * the structural variants (mvhd/tkhd versions, 64-bit largesize,
  * size==0 open mdat), track-kind classification, hostile box sizes,
  * and the visited-box ceiling. */
class Mp4Spec extends SparkSpec {

  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  test("header metadata round-trips across every structural variant") {
    // seed bits drive: 1 = mvhd v1, 2 = tkhd v1, %5==0 = largesize
    // free, %7==0 = open mdat — cover each alone and in combination
    for (seed <- Seq(4L, 1L, 2L, 3L, 5L, 7L, 35L, 70L, 105L)) {
      val b = Mp4Encode.encode(640, 480, 1, 2, 90000, 123456L, 0, 0, seed)
      assert(b != null, s"encode failed for seed=$seed")
      val m = Mp4Meta.parse(b)
      assert(m != null, s"parse failed for seed=$seed")
      assert(m.getString(0) === "isom")
      assert(m.getInt(1) === 90000) // timescale
      assert(m.getLong(2) === 123456L) // duration
      assert(m.getInt(3) === 3) // n_tracks
      assert(m.getInt(4) === 1) // video_tracks
      assert(m.getInt(5) === 2) // audio_tracks
      assert(m.getInt(6) === 640 && m.getInt(7) === 480)
      // codec identity: video cycles avc1/hvc1/av01 on seed%3, audio
      // is mp4a; stsz count (seed%97+1) sums over the 3 tracks
      assert(m.getString(10) ===
        Seq("avc1", "hvc1", "av01")((seed % 3).toInt), s"video codec, seed=$seed")
      assert(m.getString(11) === "mp4a")
      assert(m.getLong(12) === 3L * (seed % 97 + 1), s"stbl samples, seed=$seed")
    }
  }

  test("codec fields: audio-only files have NULL video codec") {
    val m = Mp4Meta.parse(Mp4Encode.encode(1, 1, 0, 2, 600, 999L, 0, 0, 9L))
    assert(m != null)
    assert(m.isNullAt(10), "audio-only file reported a video codec")
    assert(m.getString(11) === "mp4a")
    // a non-printable stsd fourcc refuses the parse (hostile bytes
    // cannot masquerade as a codec name)
    val good = Mp4Encode.encode(64, 48, 1, 0, 600, 100L, 0, 0, 0L)
    val idx = {
      // locate the avc1 sample-entry fourcc and corrupt it
      val s = new String(good.map(b => if (b >= 0x20 && b <= 0x7E) b.toChar else '.'))
      s.indexOf("avc1")
    }
    assert(idx > 0, "fixture should contain an avc1 sample entry")
    val bad = good.clone(); bad(idx) = 0x01
    assert(Mp4Meta.parse(bad) == null)
  }

  test("fragmented files count moofs and trun samples; plain files report 0/0") {
    val plain = Mp4Meta.parse(Mp4Encode.encode(64, 48, 1, 1, 600, 100L, 0, 0, 4L))
    assert(plain.getInt(8) === 0 && plain.getLong(9) === 0L)
    // 3 fragments x (1 video + 2 audio) trafs x 20 samples each
    val frag = Mp4Meta.parse(Mp4Encode.encode(64, 48, 1, 2, 600, 100L, 3, 20, 4L))
    assert(frag != null)
    assert(frag.getInt(8) === 3, "n_fragments")
    assert(frag.getLong(9) === 3L * 3 * 20, "n_samples")
    // a styp-led segment (DASH media-segment brand position) parses
    // when the moov is present in the same stream
    val b = Mp4Encode.encode(64, 48, 1, 0, 600, 100L, 2, 5, 4L)
    val styp = b.clone()
    styp(4) = 's'; styp(5) = 't' // ftyp -> styp fourcc
    val m = Mp4Meta.parse(styp)
    assert(m != null && m.getString(0) === "isom" && m.getInt(8) === 2)
  }

  test("audio-only files report NULL dimensions") {
    val b = Mp4Encode.encode(1, 1, 0, 2, 600, 999L, 0, 0, 4L)
    val m = Mp4Meta.parse(b)
    assert(m != null)
    assert(m.getInt(4) === 0 && m.getInt(5) === 2)
    assert(m.isNullAt(6) && m.isNullAt(7))
  }

  test("64-bit durations survive the mvhd v1 path") {
    val big = 0x1_0000_0000L + 17L // does not fit u32
    assert(Mp4Encode.encode(8, 8, 1, 0, 600, big, 0, 0, 0L) == null) // v0 rejects
    val m = Mp4Meta.parse(Mp4Encode.encode(8, 8, 1, 0, 600, big, 0, 0, 1L))
    assert(m != null && m.getLong(2) === big)
  }

  test("hostile inputs parse to NULL, never throw") {
    val good = Mp4Encode.encode(320, 240, 1, 1, 600, 5000L, 0, 0, 4L)
    assert(Mp4Meta.parse(good) != null)
    // truncations at every prefix length: a cut INSIDE a box must be
    // refused; a cut exactly at a top-level box boundary after moov is
    // legitimately a complete (media-less) file, so only those may pass
    val boundaries = {
      var p = 0; val s = scala.collection.mutable.Set[Int]()
      while (p + 8 <= good.length) {
        val sz = ((good(p) & 0xFFL) << 24) | ((good(p + 1) & 0xFFL) << 16) |
          ((good(p + 2) & 0xFFL) << 8) | (good(p + 3) & 0xFFL)
        p += sz.toInt; s += p
      }
      s.toSet
    }
    for (n <- 0 until good.length) {
      val r = Mp4Meta.parse(good.take(n))
      assert(r == null || boundaries.contains(n),
        s"mid-box truncation at $n parsed non-null")
    }
    // a box whose declared size overruns the buffer
    assert(Mp4Meta.parse(be32(9999) ++ "ftypisom".getBytes) == null)
    // size < 8 (cannot even hold its own header)
    assert(Mp4Meta.parse(be32(4) ++ "ftyp".getBytes ++ good.drop(8)) == null)
    // largesize below the 16-byte minimum
    assert(Mp4Meta.parse(be32(1) ++ "free".getBytes ++
      be32(0) ++ be32(8) ++ good) == null)
    // trailing garbage that is not a whole box
    assert(Mp4Meta.parse(good ++ Array[Byte](1, 2, 3)) == null)
    // not ISO-BMFF at all
    assert(Mp4Meta.parse("not a movie at all, sorry".getBytes) == null)
    assert(Mp4Meta.parse(Array.emptyByteArray) == null)
  }

  test("the visited-box ceiling bounds hostile deeply-split trees") {
    // many tiny free boxes then a valid file: the ceiling trips and
    // the parse is refused in bounded time rather than walked forever
    val spam = Array.fill(Mp4Meta.MaxBoxes + 8)(be32(8) ++ "free".getBytes)
      .flatten.toArray
    val good = Mp4Encode.encode(16, 16, 1, 0, 600, 100L, 0, 0, 4L)
    assert(Mp4Meta.parse(spam ++ good) == null)
  }

  test("SQL registration: graft_mp4_meta composes with graft_mp4_encode") {
    val df = spark.sql(
      """SELECT graft_mp4_meta(graft_mp4_encode(
        |  320, 240, 2, 1, 1200, CAST(777 AS BIGINT), 2, 9,
        |  CAST(6 AS BIGINT))) AS m""".stripMargin)
    val r = df.selectExpr("m.brand", "m.n_tracks", "m.video_tracks",
      "m.width", "m.duration").head()
    assert(r.getString(0) === "isom")
    assert(r.getInt(1) === 3 && r.getInt(2) === 2)
    assert(r.getInt(3) === 320 && r.getLong(4) === 777L)
  }
}

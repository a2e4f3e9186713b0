package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gzip member triage — the envelope format of the modern crawl: WARC
  * archives are per-record gzip members, most HTTP bodies arrive
  * content-encoded, and sidecar dumps ship as .gz. Parsed from the
  * public RFC 1952 grammar alone; the DEFLATE body is inflated with
  * the JDK's zlib binding (`java.util.zip.Inflater` — a public
  * platform API, and the ONLY correct way to validate the trailer
  * without reimplementing DEFLATE).
  *
  * `graft_gzip_meta(binary)` → `struct<fname string, mtime bigint,
  * os int, text_flag boolean, isize bigint, n_bytes bigint,
  * crc_ok boolean, n_members int>`:
  *
  *  - header fields from the FIRST member (magic 1F 8B, CM must be 8,
  *    reserved FLG bits decline, FEXTRA/FNAME/FCOMMENT walked
  *    bounds-checked, FHCRC verified against the low 16 bits of the
  *    header's CRC32 — a mismatch is a hostile header, decline);
  *  - `isize` is the trailer's claimed uncompressed size (mod 2^32),
  *    `n_bytes` the ACTUAL inflated byte count, `crc_ok` whether the
  *    trailer CRC32 matches the inflated bytes AND isize matches
  *    n_bytes mod 2^32 — reported honestly, not declined (a corrupt
  *    trailer on an inflatable stream is a data-quality FACT a
  *    curation pass wants to count);
  *  - `n_members` counts the back-to-back members (RFC 1952 §2.2
  *    multi-member files — the WARC layout); later members are
  *    structurally validated (header + inflate + trailer present) but
  *    only counted.
  *
  * Parse-or-NULL: structural failures (bad magic, non-deflate CM,
  * truncation anywhere, undecodable stream, missing trailer) NULL the
  * row; the inflate is capped at 1 MiB per member (decompression-bomb
  * ceiling, same discipline as the pixel ceilings) and the output is
  * never materialized — CRC and count stream through a 4 KiB window. */
case class GzipMeta(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gzip_meta expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = GzipMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_gzip_meta"

  override def nullSafeEval(input: Any): Any =
    GzipMeta.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.GzipMeta.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): GzipMeta =
    copy(child = newChild)
}

object GzipMeta {

  val schema: StructType = StructType(Seq(
    StructField("fname", StringType),
    StructField("mtime", LongType),
    StructField("os", IntegerType),
    StructField("text_flag", BooleanType),
    StructField("isize", LongType),
    StructField("n_bytes", LongType),
    StructField("crc_ok", BooleanType),
    StructField("n_members", IntegerType)))

  /** Per-member inflate ceiling: far above any fixture, far below a
    * decompression bomb's ambitions. */
  val MaxInflate: Long = 1L << 20

  /** Inflate everything `inf` holds through a 4 KiB window — the one
    * bounded loop the gzip, PDF and ZIP decoders share. Null on a
    * corrupt stream, a stall before the end (truncated input, or a
    * missing dictionary) or more than `limit` bytes out. The caller
    * sets the input, ends `inf`, and keeps its own container checks. */
  private[plans] def inflateBounded(inf: java.util.zip.Inflater,
      limit: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val window = new Array[Byte](4096)
    while (!inf.finished()) {
      val n = try inf.inflate(window) catch {
        case _: java.util.zip.DataFormatException => return null
      }
      if (n > 0) out.write(window, 0, n)
      else if (!inf.finished()) return null
      if (out.size() > limit) return null
    }
    out.toByteArray
  }

  private final case class Member(fname: String, mtime: Long, os: Int,
      text: Boolean, isize: Long, nBytes: Long, crcOk: Boolean, end: Int)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  /** One member's inflated payload + end offset — the hook the WARC
    * triage composes (each WARC record is its own gzip member). Same
    * header walk, trailer validation, and bomb ceiling as the triage;
    * None on any structural failure OR a failed CRC (a consumer that
    * materializes bytes must not serve corrupt ones). */
  private[plans] def inflateMember(b: Array[Byte], off: Int): Option[(Array[Byte], Int)] = {
    val out = new java.io.ByteArrayOutputStream()
    member(b, off, out).flatMap { m =>
      if (m.crcOk) Some((out.toByteArray, m.end)) else None
    }
  }

  /** The WHOLE stream's inflated payload — every back-to-back member
    * concatenated (RFC 1952 §2.2: a multi-member file's data is the
    * concatenation), each CRC-gated and bomb-ceilinged, the TOTAL
    * under the ceiling too. None on any structural failure, trailing
    * garbage, or over-ceiling output — the `Content-Encoding: gzip`
    * decode hook ([[HttpBody]]). */
  private[plans] def inflateAll(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length == 0) return None
    val out = new java.io.ByteArrayOutputStream()
    var at = 0
    var members = 0
    while (at < b.length && members < 4096) {
      member(b, at, out) match {
        case Some(m) if m.crcOk =>
          members += 1; at = m.end
          if (out.size() > MaxInflate) return None
        case _ => return None
      }
    }
    if (at < b.length) return None // member-count ceiling = decline
    Some(out.toByteArray)
  }

  /** `Content-Encoding: deflate` decode (RFC 9110 §8.4.1.2): the
    * registered form is a ZLIB container (RFC 1950, Adler-32 verified
    * by the JDK Inflater), but a long tail of real servers ships RAW
    * deflate under the same token — the classic interop bug every
    * browser accommodates, so we try zlib first and fall back. Same
    * bomb ceiling and truncation decline as the gzip path. */
  private[plans] def inflateZlibOrRaw(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length == 0) return None
    def tryInflate(raw: Boolean): Option[Array[Byte]] = {
      val inf = new java.util.zip.Inflater(raw)
      try {
        inf.setInput(b)
        Option(inflateBounded(inf, MaxInflate))
          .filter(_ => inf.getRemaining == 0) // trailing garbage
      } finally inf.end()
    }
    tryInflate(raw = false).orElse(tryInflate(raw = true))
  }

  /** One member starting at `off`; None = structural decline. When
    * `collect` is non-null the inflated bytes are accumulated into it
    * (still under the ceiling); when null only count+CRC stream. */
  private def member(b: Array[Byte], off: Int,
      collect: java.io.ByteArrayOutputStream = null): Option[Member] = {
    if (off + 10 > b.length) return None
    if (u8(b, off) != 0x1F || u8(b, off + 1) != 0x8B) return None
    if (u8(b, off + 2) != 8) return None // CM: deflate only
    val flg = u8(b, off + 3)
    if ((flg & 0xE0) != 0) return None // reserved bits (RFC 1952 §2.3.1)
    val mtime = le32(b, off + 4)
    val os = u8(b, off + 9)
    var i = off + 10
    if ((flg & 0x04) != 0) { // FEXTRA
      if (i + 2 > b.length) return None
      val xlen = le16(b, i)
      i += 2 + xlen
      if (i > b.length) return None
    }
    def zstring(limit: Int): Option[String] = {
      val start = i
      while (i < b.length && b(i) != 0 && i - start < limit) i += 1
      if (i >= b.length || b(i) != 0) None // unterminated within bounds
      else {
        val s = new String(b, start, i - start, "ISO-8859-1")
        i += 1
        Some(s)
      }
    }
    var fname: String = null
    if ((flg & 0x08) != 0) zstring(256) match { // FNAME
      case Some(s) => fname = s
      case None => return None
    }
    if ((flg & 0x10) != 0 && zstring(1024).isEmpty) return None // FCOMMENT
    if ((flg & 0x02) != 0) { // FHCRC: CRC16 of the header bytes so far
      if (i + 2 > b.length) return None
      val c = new java.util.zip.CRC32()
      c.update(b, off, i - off)
      if ((c.getValue & 0xFFFFL) != le16(b, i)) return None
      i += 2
    }
    // DEFLATE body: stream through a window — count + CRC only
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, i, b.length - i)
      val crc = new java.util.zip.CRC32()
      val window = new Array[Byte](4096)
      var total = 0L
      while (!inf.finished()) {
        val n = try inf.inflate(window) catch {
          case _: java.util.zip.DataFormatException => return None
        }
        if (n > 0) {
          crc.update(window, 0, n); total += n
          if (collect != null) collect.write(window, 0, n)
        }
        else if (!inf.finished()) return None // needsInput/needsDict: truncated
        if (total > MaxInflate) return None // bomb ceiling
      }
      val consumed = (b.length - i) - inf.getRemaining
      val trailerAt = i + consumed
      if (trailerAt + 8 > b.length) return None
      val tcrc = le32(b, trailerAt)
      val tisize = le32(b, trailerAt + 4)
      Some(Member(fname, mtime, os, (flg & 0x01) != 0, tisize, total,
        tcrc == crc.getValue && tisize == (total & 0xFFFFFFFFL), trailerAt + 8))
    } finally inf.end()
  }

  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    member(b, 0) match {
      case None => null
      case Some(first) =>
        var members = 1
        var at = first.end
        // back-to-back members (WARC layout); every one must parse
        while (at < b.length && members < 4096) {
          member(b, at) match {
            case Some(m) => members += 1; at = m.end
            case None => return null // trailing garbage is hostile
          }
        }
        // the member-count ceiling is a DECLINE, not a silent cap — a
        // reported count must mean the whole file was walked
        if (at < b.length) return null
        new GenericInternalRow(Array[Any](
          if (first.fname == null) null else UTF8String.fromString(first.fname),
          first.mtime, first.os, first.text, first.isize, first.nBytes,
          first.crcOk, members))
    }
  }
}

/** `graft_gzip_encode(seed, n_payload, variant, members)` → binary:
  * structurally valid gzip for the fixture corpus, DEFLATE-compressed
  * with the JDK Deflater (the oracle never sees compressed bytes —
  * every REPORTED field is (seed, n_payload, variant) arithmetic).
  * Payload byte j = (seed + 31*j) % 251. Variants: 0 = bare header
  * (no optional fields), 1 = FNAME "doc<seed%1000>.txt" + FTEXT,
  * 2 = FEXTRA(4) + FNAME + FHCRC. mtime = seed % 100000; OS = 3
  * (unix). `members` extra back-to-back members follow (each a bare
  * 8-byte-payload member) so the multi-member counter is exercised. */
case class GzipEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType, IntegerType, IntegerType)
    if (children.length == 4 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_gzip_encode expects (long seed, int n_payload, int variant, int members)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_gzip_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else GzipEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GzipEncode = copy(children = newChildren)
}

object GzipEncode {

  def payloadBytes(seed: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(j => (((seed + 31L * j) % 251 + 251) % 251).toByte)

  private def deflate(payload: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(payload); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** One member with the given header shape. */
  private def writeMember(out: java.io.ByteArrayOutputStream, seed: Long,
      payload: Array[Byte], variant: Int): Unit = {
    def w8(v: Int): Unit = out.write(v & 0xFF)
    def w32(v: Long): Unit = {
      w8(v.toInt); w8((v >> 8).toInt); w8((v >> 16).toInt); w8((v >> 24).toInt)
    }
    val header = new java.io.ByteArrayOutputStream()
    def h8(v: Int): Unit = header.write(v & 0xFF)
    val flg = variant match {
      case 1 => 0x08 | 0x01             // FNAME + FTEXT
      case 2 => 0x04 | 0x08 | 0x02      // FEXTRA + FNAME + FHCRC
      case _ => 0x00
    }
    h8(0x1F); h8(0x8B); h8(8); h8(flg)
    val mtime = seed % 100000
    h8(mtime.toInt); h8((mtime >> 8).toInt); h8((mtime >> 16).toInt); h8((mtime >> 24).toInt)
    h8(0)   // XFL
    h8(3)   // OS: unix
    if ((flg & 0x04) != 0) { // FEXTRA: one 4-byte opaque subfield
      h8(4); h8(0)
      h8('g'); h8('f'); h8((seed % 256).toInt); h8(((seed >> 8) % 256).toInt)
    }
    if ((flg & 0x08) != 0) {
      s"doc${seed % 1000}.txt".foreach(c => h8(c))
      h8(0)
    }
    if ((flg & 0x02) != 0) {
      val c = new java.util.zip.CRC32()
      c.update(header.toByteArray)
      val crc16 = (c.getValue & 0xFFFFL).toInt
      h8(crc16); h8(crc16 >> 8)
    }
    out.write(header.toByteArray)
    out.write(deflate(payload))
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    w32(crc.getValue)
    w32(payload.length.toLong)
  }

  def encode(seed: Long, nPayload: Int, variant: Int, members: Int): Array[Byte] = {
    if (seed < 0 || nPayload < 0 || nPayload > (1 << 16)) return null
    if (variant < 0 || variant > 2 || members < 1 || members > 64) return null
    val out = new java.io.ByteArrayOutputStream()
    writeMember(out, seed, payloadBytes(seed, nPayload), variant)
    var m = 1
    while (m < members) {
      writeMember(out, seed + m, payloadBytes(seed + m, 8), 0)
      m += 1
    }
    out.toByteArray
  }
}

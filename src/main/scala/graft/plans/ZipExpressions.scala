package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZIP container triage — the envelope of the modern OFFICE document
  * family (docx/xlsx/pptx are ZIP, so are epub, jar, apk) and a
  * heavy hitter in any crawl's attachment tail. Parsed from the
  * public APPNOTE.TXT structures, the way a real reader must: through
  * the END OF CENTRAL DIRECTORY record and the central directory —
  * never by scanning local headers, which may lie (data descriptors,
  * §4.3.9) or be preceded by self-extractor stubs.
  *
  * `graft_zip_entries(binary)` → `array<struct<name string,
  * method int, usize bigint>>`, one element per central-directory
  * entry in directory order:
  *
  *  - EOCD (PK\5\6) located by scanning back from the tail through
  *    the up-to-64-KiB zip comment; its self-consistency is checked
  *    (comment length must reach the buffer end exactly — the rule
  *    that rejects PK\5\6 bytes occurring INSIDE a comment);
  *  - central directory at the EOCD's offset: each PK\1\2 entry's
  *    compression method, UNCOMPRESSED size, and file name (UTF-8
  *    read; the general-purpose UTF-8 flag bit 11 is the common case
  *    and cp437-only names are legacy) — entry count and total size
  *    must agree with the EOCD's claims;
  *  - ZIP64 archives SERVE (APPNOTE §4.3.14-15, §4.5.3): the EOCD64
  *    locator + record carry the 8-byte entry count / directory
  *    size / offset, and per-entry 0xFFFFFFFF sentinels resolve
  *    through the 0x0001 extended-information extra. Every
  *    non-sentinel classic field must AGREE with the 64-bit record;
  *    a sentinel with no ZIP64 record/extra, multi-disk layouts, and
  *    any disagreement decline rather than serve wrong values.
  *
  * Parse-or-NULL; 131072-entry census cap, 64 KiB name bound. */
case class ZipEntries(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zip_entries expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(ZipEntries.entrySchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_zip_entries"

  override def nullSafeEval(input: Any): Any =
    ZipEntries.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.ZipEntries.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ZipEntries =
    copy(child = newChild)
}

object ZipEntries {

  val entrySchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("method", IntegerType),
    StructField("usize", LongType)))

  /** High enough for real ZIP64 archives (the format's trigger is
    * 65535 entries), still a hard bomb bound on the directory walk. */
  private val MaxEntries = 1 << 17
  private val MaxName = 1 << 16

  private[plans] def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private[plans] def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  private[plans] def u64(b: Array[Byte], i: Int): Long =
    u32(b, i) | (u32(b, i + 4) << 32)

  /** EOCD offset, or -1: scan back through the possible comment
    * (≤ 64 KiB); the record is only accepted when its comment-length
    * field lands the record exactly at the buffer end — the rule that
    * rejects PK\5\6 bytes occurring INSIDE a comment. Shared with
    * [[ZipExtract]]. */
  private[plans] def eocdAt(b: Array[Byte]): Int = {
    if (b == null || b.length < 22) return -1
    var eocd = -1
    var i = b.length - 22
    val floor = math.max(0, b.length - 22 - 0xFFFF)
    while (eocd < 0 && i >= floor) {
      if (b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 5 && b(i + 3) == 6 &&
        i + 22 + u16(b, i + 20) == b.length) eocd = i
      else i -= 1
    }
    eocd
  }

  /** The resolved central directory: entry count plus the walk's
    * byte range, after any ZIP64 indirection. */
  private[plans] final case class Directory(count: Long, cdOff: Long, cdEnd: Long)

  /** Resolve the EOCD — and, when the ZIP64 locator (PK\6\7) sits
    * immediately before it, the EOCD64 record (PK\6\6) it points at
    * (APPNOTE §4.3.14-15): 8-byte entry count / directory size /
    * offset, single-disk only, with every non-sentinel EOCD field
    * required to AGREE with the 64-bit record (a disagreement is
    * corruption, never a choice). A sentinel EOCD field with no
    * locator declines. Null on anything malformed. */
  private[plans] def directory(b: Array[Byte]): Directory = {
    val eocd = eocdAt(b)
    if (eocd < 0) return null
    // multi-disk archives decline (disk fields must be 0)
    if (u16(b, eocd + 4) != 0 || u16(b, eocd + 6) != 0) return null
    val count16 = u16(b, eocd + 10)
    if (u16(b, eocd + 8) != count16) return null // this-disk vs total
    val cdSize32 = u32(b, eocd + 12)
    val cdOff32 = u32(b, eocd + 16)
    val sentinel = count16 == 0xFFFF || cdSize32 == 0xFFFFFFFFL ||
      cdOff32 == 0xFFFFFFFFL
    val locAt = eocd - 20
    val hasLocator = locAt >= 0 && b(locAt) == 'P' && b(locAt + 1) == 'K' &&
      b(locAt + 2) == 6 && b(locAt + 3) == 7
    if (!hasLocator) {
      if (sentinel) return null // a sentinel with no ZIP64 record
      if (cdOff32 + cdSize32 > eocd) return null
      return Directory(count16, cdOff32, cdOff32 + cdSize32)
    }
    // locator: disk-with-EOCD64 must be 0, total disks must be 1
    if (u32(b, locAt + 4) != 0 || u32(b, locAt + 16) != 1) return null
    val z64 = u64(b, locAt + 8)
    if (z64 < 0 || z64 + 56 > locAt) return null
    val z = z64.toInt
    if (!(b(z) == 'P' && b(z + 1) == 'K' && b(z + 2) == 6 && b(z + 3) == 6))
      return null
    if (u32(b, z + 16) != 0 || u32(b, z + 20) != 0) return null // disks
    val n1 = u64(b, z + 24)
    val n2 = u64(b, z + 32)
    if (n1 != n2 || n2 < 0) return null
    val cdSize = u64(b, z + 40)
    val cdOff = u64(b, z + 48)
    if (cdSize < 0 || cdOff < 0) return null
    // non-sentinel EOCD fields must agree with the 64-bit record
    if (count16 != 0xFFFF && count16 != n2) return null
    if (cdSize32 != 0xFFFFFFFFL && cdSize32 != cdSize) return null
    if (cdOff32 != 0xFFFFFFFFL && cdOff32 != cdOff) return null
    // the directory must end exactly at the EOCD64 record
    if (cdOff + cdSize != z64) return null
    Directory(n2, cdOff, z64)
  }

  /** The ZIP64 extended-information extra field (id 0x0001): 8-byte
    * replacements, IN ORDER, for whichever of usize/csize/lho carried
    * the 0xFFFFFFFF sentinel in the fixed record (APPNOTE §4.5.3).
    * Returns (usize, csize, lho) resolved, or null when a sentinel
    * has no replacement or the extra walk is malformed. */
  private[plans] def resolveZip64(b: Array[Byte], extraAt: Int, extraLen: Int,
      usize0: Long, csize0: Long, lho0: Long): (Long, Long, Long) = {
    if (usize0 != 0xFFFFFFFFL && csize0 != 0xFFFFFFFFL && lho0 != 0xFFFFFFFFL)
      return (usize0, csize0, lho0)
    var at = extraAt
    val end = extraAt + extraLen
    while (at + 4 <= end) {
      val id = u16(b, at)
      val sz = u16(b, at + 2)
      if (at + 4 + sz > end) return null
      if (id == 0x0001) {
        var f = at + 4
        var usize = usize0
        var csize = csize0
        var lho = lho0
        if (usize == 0xFFFFFFFFL) {
          if (f + 8 > at + 4 + sz) return null
          usize = u64(b, f); f += 8
        }
        if (csize == 0xFFFFFFFFL) {
          if (f + 8 > at + 4 + sz) return null
          csize = u64(b, f); f += 8
        }
        if (lho == 0xFFFFFFFFL) {
          if (f + 8 > at + 4 + sz) return null
          lho = u64(b, f); f += 8
        }
        if (usize < 0 || csize < 0 || lho < 0) return null
        return (usize, csize, lho)
      }
      at += 4 + sz
    }
    null // a sentinel with no ZIP64 extra
  }

  def parse(b: Array[Byte]): GenericArrayData = {
    val dir = directory(b)
    if (dir == null) return null
    val count = dir.count
    val cdEnd = dir.cdEnd
    if (count > MaxEntries) return null
    val out = new Array[Any](count.toInt)
    var at = dir.cdOff
    var k = 0
    while (k < count) {
      val e = at.toInt
      if (at + 46 > cdEnd) return null
      if (!(b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 1 && b(e + 3) == 2))
        return null
      val method = u16(b, e + 10)
      val nameLen = u16(b, e + 28)
      val extraLen = u16(b, e + 30)
      val commentLen = u16(b, e + 32)
      if (nameLen > MaxName || at + 46 + nameLen + extraLen + commentLen > cdEnd)
        return null
      val resolved = resolveZip64(b, e + 46 + nameLen, extraLen,
        u32(b, e + 24), u32(b, e + 20), u32(b, e + 42))
      if (resolved == null) return null
      val name = new String(b, e + 46, nameLen, "UTF-8")
      out(k) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(name), method, resolved._1))
      at += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    // the directory must end where the record said it does
    if (at != cdEnd) return null
    new GenericArrayData(out)
  }

  /** Central-directory entry NAMES, or null when the directory
    * doesn't parse — for consumers that need the member inventory
    * (e.g. the pptx gap-numbered-slide decline) without payloads. */
  private[plans] def entryNames(b: Array[Byte]): Array[String] = {
    val arr = parse(b)
    if (arr == null) return null
    Array.tabulate(arr.numElements()) { i =>
      arr.getStruct(i, 3).getUTF8String(0).toString
    }
  }
}

/** `graft_zip_encode(seed, n_entries, comment)` → binary: a REAL zip
  * written by the JDK's ZipOutputStream (the fixture writer IS the
  * reference implementation — parsing it is the differential):
  * entries `e<i>.txt` with deterministic payloads of (seed+i)%100+10
  * bytes, methods alternating STORED/DEFLATED, and an optional
  * archive comment (exercising the EOCD tail scan). */
case class ZipEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType, BooleanType)
    if (children.length == 3 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_zip_encode expects (long seed, int n_entries, boolean comment)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_zip_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else ZipEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Boolean])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZipEncode = copy(children = newChildren)
}

object ZipEncode {

  def payload(seed: Long, i: Int): Array[Byte] =
    Array.tabulate(((seed + i) % 100 + 10).toInt)(j =>
      (((seed + 13L * i + 7L * j) % 251 + 251) % 251).toByte)

  def encode(seed: Long, nEntries: Int, comment: Boolean): Array[Byte] = {
    if (seed < 0 || nEntries < 1 || nEntries > 64) return null
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    try {
      if (comment) z.setComment(s"graft archive $seed")
      (0 until nEntries).foreach { i =>
        val data = payload(seed, i)
        val e = new java.util.zip.ZipEntry(s"e$i.txt")
        if (i % 2 == 0) {
          // STORED requires the caller to pre-declare size + CRC
          e.setMethod(java.util.zip.ZipEntry.STORED)
          e.setSize(data.length.toLong)
          val c = new java.util.zip.CRC32()
          c.update(data)
          e.setCrc(c.getValue)
        } else e.setMethod(java.util.zip.ZipEntry.DEFLATED)
        z.putNextEntry(e)
        z.write(data)
        z.closeEntry()
      }
    } finally z.close()
    bos.toByteArray
  }
}

/** ZIP ENTRY extraction — the payload hop the census deliberately
  * skipped, and the prerequisite for every office-document format
  * (docx/xlsx/pptx/epub are ZIP-of-XML). Addressed the way the census
  * walks: through the CENTRAL directory (authoritative per APPNOTE —
  * local headers may lie via data descriptors), then one hop to the
  * local header only to locate the data start (its OWN name/extra
  * lengths, which legally differ from the directory's).
  *
  * `graft_zip_extract(zip, name)` → binary: the named entry's
  * uncompressed bytes, or NULL. STORED (0) copies; DEFLATED (8) runs
  * the JDK's raw inflater under the shared 1 MiB bomb ceiling. The
  * result is served ONLY when the inflated length equals the
  * directory's uncompressed size AND its CRC-32 matches the
  * directory's — a lying size or corrupt stream declines, never
  * serves wrong bytes (the gzip triage's discipline). ZIP64 entries
  * resolve their sizes/offset through the 0x0001 extra like the
  * census; other compression methods decline. */
case class ZipExtract(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_zip_extract expects (binary zip, string name)")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_zip_extract"

  override def nullSafeEval(zip: Any, name: Any): Any =
    ZipExtract.extract(zip.asInstanceOf[Array[Byte]],
      name.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (z, n) => s"""
      ${ev.value} = graft.plans.ZipExtract.extract($z, $n.toString());
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZipExtract =
    copy(left = newLeft, right = newRight)
}

object ZipExtract {

  /** One `name="..."` attribute value from an XML tag head, or null.
    * Attributes in machine-written package parts are "-quoted. Shared
    * by the ZIP-packaged document decoders (xlsx, EPUB, ODF). */
  private[plans] def attr(head: String, name: String): String = {
    val k = s""" $name=""""
    val at = head.indexOf(k)
    if (at < 0) return null
    val start = at + k.length
    val end = head.indexOf('"', start)
    if (end < 0) null else head.substring(start, end)
  }

  /** Shared with the gzip/PDF tiers: never inflate more than 1 MiB. */
  private def MaxOut = GzipMeta.MaxInflate

  def extract(b: Array[Byte], name: String): Array[Byte] = {
    val dir = ZipEntries.directory(b)
    if (dir == null || name == null) return null
    val count = dir.count
    val cdEnd = dir.cdEnd
    val nameBytes = name.getBytes("UTF-8")
    var at = dir.cdOff
    var k = 0
    while (k < count) {
      val e = at.toInt
      if (at + 46 > cdEnd) return null
      if (!(b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 1 && b(e + 3) == 2))
        return null
      val method = ZipEntries.u16(b, e + 10)
      val crc = ZipEntries.u32(b, e + 16)
      val nameLen = ZipEntries.u16(b, e + 28)
      val extraLen = ZipEntries.u16(b, e + 30)
      val commentLen = ZipEntries.u16(b, e + 32)
      if (at + 46 + nameLen + extraLen + commentLen > cdEnd) return null
      val matches = nameLen == nameBytes.length && {
        var j = 0
        var ok = true
        while (ok && j < nameLen) { ok = b(e + 46 + j) == nameBytes(j); j += 1 }
        ok
      }
      if (matches) {
        // ZIP64 sentinels resolve through the 0x0001 extra; the bomb
        // ceiling declines before any work
        val resolved = ZipEntries.resolveZip64(b, e + 46 + nameLen, extraLen,
          ZipEntries.u32(b, e + 24), ZipEntries.u32(b, e + 20),
          ZipEntries.u32(b, e + 42))
        if (resolved == null) return null
        val (usize, csize, lho) = resolved
        if (usize > MaxOut) return null
        // the LOCAL header locates the data (its own lengths)
        val l = lho.toInt
        if (lho + 30 > b.length) return null
        if (!(b(l) == 'P' && b(l + 1) == 'K' && b(l + 2) == 3 && b(l + 3) == 4))
          return null
        val dataAt = lho + 30 + ZipEntries.u16(b, l + 26) + ZipEntries.u16(b, l + 28)
        if (dataAt + csize > b.length) return null
        val out: Array[Byte] = method match {
          case 0 => // STORED: sizes must agree
            if (csize != usize) return null
            java.util.Arrays.copyOfRange(b, dataAt.toInt, (dataAt + csize).toInt)
          case 8 => // DEFLATED: raw inflate, ceiling-bounded
            val inf = new java.util.zip.Inflater(true)
            try {
              // the documented nowrap quirk: the zlib binding needs a
              // dummy byte after the raw-deflate data to finish
              val inBuf = new Array[Byte](csize.toInt + 1)
              System.arraycopy(b, dataAt.toInt, inBuf, 0, csize.toInt)
              inf.setInput(inBuf)
              val inflated = GzipMeta.inflateBounded(inf, math.min(MaxOut, usize))
              if (inflated == null) return null
              inflated
            } finally inf.end()
          case _ => return null // other methods: recorded envelope
        }
        // serve ONLY directory-verified bytes
        if (out.length != usize) return null
        val c = new java.util.zip.CRC32()
        c.update(out)
        if (c.getValue != crc) return null
        return out
      }
      at += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    null // no such entry
  }
}

/** docx text extraction — the office-document hop: a .docx is a ZIP
  * whose `word/document.xml` holds the text in WordprocessingML runs.
  * Machine-generated against a fixed schema, so the sitemap triage's
  * bounded tag scan applies — no general XML machinery:
  *
  * `graft_docx_text(binary)` → string: `<w:p>` paragraphs joined with
  * '\n'; within a paragraph, `<w:t>` run contents concatenate in
  * document order (xml:space and other attributes ride along
  * untouched — content is whatever sits between the tags), `<w:tab/>`
  * appends a tab. The five XML entities plus numeric character
  * references decode. `<w:pPr>`/`<w:rPr>` property blocks and every
  * other element are inert by the name-delimiter rule ("<w:p" only
  * matches the paragraph tag itself). NULL when the archive or its
  * document part is absent/corrupt (one CRC-gated [[ZipExtract]]
  * hop), or when the 8192-paragraph cap is hit with MORE content
  * remaining — over-cap DECLINES, never truncates silently (the
  * robots posture). 1 MiB payload ceiling (the extract bound). */
case class DocxText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_docx_text expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_docx_text"

  override def nullSafeEval(input: Any): Any =
    DocxText.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.DocxText.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): DocxText =
    copy(child = newChild)
}

object DocxText {

  private val MaxParas = 8192

  /** The five named entities + decimal/hex character references.
    * Shared with the xlsx tier (same machine-generated-XML family). */
  private[plans] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val rep: String = ent match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case _ if ent.startsWith("#x") || ent.startsWith("#X") =>
              try {
                val cp = Integer.parseInt(ent.substring(2), 16)
                // surrogate code points (isValidCodePoint accepts them)
                // would emit a lone surrogate char — malformed UTF-16
                // that garbles downstream UTF-8; ride through unknown
                if (Character.isValidCodePoint(cp) && !(cp >= 0xD800 && cp <= 0xDFFF))
                  new String(Character.toChars(cp)) else null
              } catch { case _: NumberFormatException => null }
            case _ if ent.startsWith("#") =>
              try {
                val cp = Integer.parseInt(ent.substring(1))
                if (Character.isValidCodePoint(cp) && !(cp >= 0xD800 && cp <= 0xDFFF))
                  new String(Character.toChars(cp)) else null
              } catch { case _: NumberFormatException => null }
            case _ => null
          }
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 } // unknown entity rides through
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** True when the tag NAME ends at `at` (next char is whitespace,
    * '>', or '/') — "<w:p" must not match "<w:pPr". */
  private def delimAt(x: String, at: Int): Boolean =
    at >= x.length || {
      val c = x.charAt(at)
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' || c == '\r'
    }

  private val WmlNs =
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

  def parse(zip: Array[Byte]): UTF8String = {
    val xmlBytes = ZipExtract.extract(zip, "word/document.xml")
    if (xmlBytes == null) return null
    val x = new String(xmlBytes, "UTF-8")
    // the scan keys on the CONVENTIONAL w: prefix (what every real
    // writer emits); a document binding the WML namespace to some
    // OTHER prefix would silently extract nothing — decline instead.
    // The root tag must carry xmlns:w="…wordprocessingml/2006/main";
    // this also makes the check attribute-ORDER invariant for free.
    var rootAt = x.indexOf('<')
    while (rootAt >= 0 && (x.startsWith("<?", rootAt) || x.startsWith("<!", rootAt)))
      rootAt = x.indexOf('<', rootAt + 2)
    if (rootAt < 0) return null
    val rootGt = x.indexOf('>', rootAt)
    if (rootGt < 0) return null
    if (x.substring(rootAt, rootGt).indexOf("xmlns:w=\"" + WmlNs + "\"") < 0)
      return null
    val out = new java.lang.StringBuilder(256)
    var at = 0
    var paras = 0
    while (paras < MaxParas) {
      var open = x.indexOf("<w:p", at)
      while (open >= 0 && !delimAt(x, open + 4)) open = x.indexOf("<w:p", open + 4)
      if (open < 0) return UTF8String.fromString(out.toString)
      val openGt = x.indexOf('>', open)
      if (openGt < 0) return null
      if (paras > 0) out.append('\n')
      paras += 1
      if (x.charAt(openGt - 1) == '/') { at = openGt + 1 } // empty <w:p/>
      else {
        val end = x.indexOf("</w:p>", openGt)
        if (end < 0) return null
        var i = openGt + 1
        while (i < end) {
          val lt = x.indexOf('<', i)
          if (lt < 0 || lt >= end) { i = end }
          else if (x.startsWith("<w:t", lt) && delimAt(x, lt + 4)) {
            val gt = x.indexOf('>', lt)
            if (gt < 0 || gt > end) return null
            if (x.charAt(gt - 1) == '/') i = gt + 1 // empty run
            else {
              val close = x.indexOf("</w:t>", gt + 1)
              if (close < 0 || close > end) return null
              out.append(decodeEntities(x.substring(gt + 1, close)))
              i = close + 6
            }
          } else if (x.startsWith("<w:tab", lt) && delimAt(x, lt + 6)) {
            out.append('\t')
            val gt = x.indexOf('>', lt)
            if (gt < 0 || gt > end) return null
            i = gt + 1
          } else i = lt + 1
        }
        at = end + 6
      }
    }
    // cap reached: DECLINE if more paragraphs remain — the robots
    // posture (a silent truncation would read as complete extraction)
    var more = x.indexOf("<w:p", at)
    while (more >= 0 && !delimAt(x, more + 4)) more = x.indexOf("<w:p", more + 4)
    if (more >= 0) null else UTF8String.fromString(out.toString)
  }
}

/** `graft_docx_encode(seed, n_paras)` → binary: a REAL docx written by
  * the JDK's ZipOutputStream (the writer IS the reference — parsing
  * it back is a differential), with the minimal OPC parts
  * ([Content_Types].xml, _rels/.rels, word/document.xml). Each
  * paragraph splits across THREE runs (one with xml:space="preserve"
  * and live entities), carries a `<w:pPr>` property block (pinning
  * the "<w:p" delimiter rule), and every (seed+i)%3==0 paragraph ends
  * with a `<w:tab/>` run. Decoded text per paragraph i:
  * `Para {i} of doc {seed} has & <tags> x={(seed+i)%7}` plus
  * `\tend` when tabbed — all (seed, i) arithmetic for the oracle. */
case class DocxEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType)
    if (children.length == 2 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_docx_encode expects (long seed, int n_paras)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_docx_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else DocxEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DocxEncode = copy(children = newChildren)
}

object DocxEncode {

  /** The paragraph text [[DocxText]] must produce — the oracle's
    * contract, kept beside the encoder that implies it. */
  def decodedPara(seed: Long, i: Int): String =
    s"Para $i of doc $seed has & <tags> x=${(seed + i) % 7}" +
      (if ((seed + i) % 3 == 0) "\tend" else "")

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
      |</Types>""".stripMargin

  private val Rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
      |</Relationships>""".stripMargin

  def encode(seed: Long, nParas: Int): Array[Byte] = {
    if (seed < 0 || nParas < 1 || nParas > 64) return null
    val doc = new StringBuilder()
    doc.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    doc.append("<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\"><w:body>")
    (0 until nParas).foreach { i =>
      doc.append("<w:p><w:pPr><w:pStyle w:val=\"Normal\"/></w:pPr>")
      doc.append(s"<w:r><w:t>Para $i of doc $seed</w:t></w:r>")
      doc.append("<w:r><w:t xml:space=\"preserve\"> has &amp; &lt;tags&gt; </w:t></w:r>")
      doc.append(s"<w:r><w:t>x=${(seed + i) % 7}</w:t></w:r>")
      if ((seed + i) % 3 == 0)
        doc.append("<w:r><w:tab/><w:t>end</w:t></w:r>")
      doc.append("</w:p>")
    }
    doc.append("</w:body></w:document>")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    try {
      Seq("[Content_Types].xml" -> ContentTypes, "_rels/.rels" -> Rels,
        "word/document.xml" -> doc.toString).foreach { case (n, body) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(body.getBytes("UTF-8"))
        z.closeEntry()
      }
    } finally z.close()
    bos.toByteArray
  }
}

/** ZIP sub-format detection — the routing hop in front of the
  * ZIP-of-XML extractors: by magic bytes alone every office document,
  * ebook, and jar is just "PK", so a corpus pipeline classifies by
  * the CENTRAL DIRECTORY's member names (no payload inflated, no
  * local header touched — one directory walk):
  *
  * `graft_zip_kind(binary)` → string: `docx` (word/document.xml),
  * `xlsx` (xl/workbook.xml), `pptx` (ppt/presentation.xml), `epub`
  * (META-INF/container.xml), or `zip` (a valid archive that is none
  * of these); NULL when the bytes are not a readable archive at all
  * (same decline envelope as the census). The marker parts are the
  * formats' own normative anchors — OPC main-part locations and the
  * OCF container — not heuristics. */
case class ZipKind(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zip_kind expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_zip_kind"

  override def nullSafeEval(input: Any): Any =
    ZipKind.classify(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.ZipKind.classify($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ZipKind =
    copy(child = newChild)
}

object ZipKind {

  def classify(b: Array[Byte]): UTF8String = {
    val entries = ZipEntries.parse(b)
    if (entries == null) return null
    var kind = "zip"
    var i = 0
    val n = entries.numElements()
    while (i < n && kind == "zip") {
      val name = entries.getStruct(i, 3).getUTF8String(0).toString
      name match {
        case "word/document.xml" => kind = "docx"
        case "xl/workbook.xml" => kind = "xlsx"
        case "ppt/presentation.xml" => kind = "pptx"
        case "META-INF/container.xml" => kind = "epub"
        // ODF packaging: the manifest marks the family; the STORED
        // mimetype entry (OASIS requires it first) carries the member
        // format — one CRC-gated extract of a ~40-byte entry
        case "META-INF/manifest.xml" =>
          val mt = ZipExtract.extract(b, "mimetype")
          if (mt != null) new String(mt, "US-ASCII") match {
            case "application/vnd.oasis.opendocument.text" => kind = "odt"
            case "application/vnd.oasis.opendocument.spreadsheet" => kind = "ods"
            case "application/vnd.oasis.opendocument.presentation" => kind = "odp"
            case _ => () // graphics/formula: a later tier
          }
        case _ => ()
      }
      i += 1
    }
    UTF8String.fromString(kind)
  }
}

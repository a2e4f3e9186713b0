package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PDF triage — the dominant DOCUMENT format in every web crawl, from
  * the public ISO 32000 grammar alone. This is the cheap structural
  * pass a corpus pipeline runs before any text extraction: version,
  * page count, encryption, and object census — enough to cohort,
  * cap, and route documents without parsing a single content stream.
  *
  * `graft_pdf_meta(binary)` → `struct<version string, n_pages int,
  * encrypted boolean, n_objects int>`, by the real xref walk (not a
  * regex scan — a content stream may legally CONTAIN the bytes
  * "/Type /Page"):
  *
  *  1. header `%PDF-d.d` at byte 0 → version;
  *  2. `startxref` + offset + `%%EOF` located in the file tail;
  *  3. the cross-reference section at that offset, WHICHEVER layout:
  *     the classic table (`xref`, subsection headers, exactly-20-byte
  *     entries, trailer dict) or the 1.5+ cross-reference STREAM
  *     (§7.5.8 — the layout virtually every modern writer emits):
  *     /W-packed binary entries behind /FlateDecode, the PNG row
  *     predictors (all five filters) reversed per /DecodeParms, the
  *     section facts from the stream's own dict; hybrid files mix
  *     layouts across the chain;
  *  4. incremental updates followed through /Prev (bounded chain,
  *     newest section wins per object — the spec's shadowing rule);
  *  5. /Root → the Catalog object (`/Type /Catalog`, its /Pages ref)
  *     — resolved whether it lives at a byte offset (type-1 entry)
  *     or compressed inside an object STREAM (type-2 entry → §7.5.7
  *     /ObjStm header-pair hop, same Flate machinery);
  *  6. /Pages → the page-tree ROOT's /Count, which ISO 32000 defines
  *     as the number of LEAF pages under it — no tree recursion
  *     needed (and none performed: hostile self-referential trees
  *     cannot loop a walk that never descends);
  *  - `n_objects` = in-use (type 1 or 2) xref entries after shadowing;
  *  - `encrypted` = the trailer/stream dict carries /Encrypt.
  *
  * Parse-or-NULL: every offset bounds-checked, the xref entry census
  * capped at 8192, the /Prev chain at 8 hops, object dictionaries
  * scanned in bounded windows, every inflate behind the gzip triage's
  * 1 MiB bomb ceiling; non-Flate filters and a missing or lying
  * section decline. Hostile bytes NULL, never throw or overrun. */
case class PdfMeta(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_pdf_meta expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = PdfMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pdf_meta"

  override def nullSafeEval(input: Any): Any =
    PdfMeta.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.PdfMeta.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PdfMeta =
    copy(child = newChild)
}

object PdfMeta {

  val schema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("n_pages", IntegerType),
    StructField("encrypted", BooleanType),
    StructField("n_objects", IntegerType)))

  private val MaxEntries = 8192
  private val MaxPrevHops = 8
  // wide enough for a 512-page /Kids array (the encoder's cap)
  private val DictWindow = 16384

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0

  /** Cursor-style tokenizer over the byte array; all methods bounds-
    * checked, failure = -1 / None. Shared with [[PdfPageTexts]] (the
    * content-stream tier walks the same xref machinery). */
  private[plans] final class Cur(val b: Array[Byte], var i: Int) {
    def skipWs(): Unit = {
      var guard = 0
      while (i < b.length && guard < (1 << 20)) {
        if (isWs(b(i) & 0xFF)) i += 1
        else if (b(i) == '%') { // comment to EOL
          while (i < b.length && b(i) != '\n' && b(i) != '\r') i += 1
        } else return
        guard += 1
      }
    }
    def keyword(s: String): Boolean = {
      skipWs()
      if (i + s.length > b.length) return false
      var j = 0
      while (j < s.length) {
        if (b(i + j) != s.charAt(j)) return false
        j += 1
      }
      i += s.length
      true
    }
    /** A NAME token: the keyword followed by a delimiter — "/Prev2"
      * must not match "/Prev" (ISO 32000 names end at whitespace or a
      * delimiter character). */
    def name(s: String): Boolean = {
      val mark = i
      if (!keyword(s)) return false
      if (i >= b.length) return true
      val c = b(i) & 0xFF
      val delim = isWs(c) || c == '/' || c == '[' || c == ']' ||
        c == '<' || c == '>' || c == '(' || c == ')' || c == '%'
      if (!delim) { i = mark; false } else true
    }
    def int(): Long = {
      skipWs()
      val start = i
      var v = 0L
      while (i < b.length && b(i) >= '0' && b(i) <= '9' && i - start < 15) {
        v = v * 10 + (b(i) - '0'); i += 1
      }
      if (i == start) -1L else v
    }
    /** A hex string `<...>` → bytes (odd digit count pads 0 per
      * §7.3.4.3), or null — the /ID elements every real writer
      * emits. */
    def hexStr(): Array[Byte] = {
      skipWs()
      if (i >= b.length || b(i) != '<') return null
      i += 1
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var guard = 0
      while (i < b.length && guard < 1024) {
        val ch = b(i) & 0xFF
        if (ch == '>') {
          i += 1
          if (hi >= 0) out.write(hi << 4)
          return out.toByteArray
        }
        val d = Character.digit(ch, 16)
        if (d >= 0) {
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
        } else if (!isWs(ch)) return null
        i += 1
        guard += 1
      }
      null
    }
  }

  /** One cross-reference entry: kind 0 = free, 1 = at byte offset `a`,
    * 2 = object number `a`'s object STREAM, index `b` within it. */
  private[plans] final case class Entry(kind: Int, a: Long, b: Long)

  /** The trailer facts of one xref SECTION. `encObj` is the /Encrypt
    * dictionary's object number (-1 when absent or a non-reference);
    * `id0` the first /ID element's bytes (null when absent) — both
    * feed the text tier's standard-security-handler hookup. */
  private final case class Section(rootObj: Long, encrypted: Boolean,
      prev: Long, encObj: Long, id0: Array[Byte])

  /** Parse one classic xref table at `off` into `entries` (first-writer
    * = newest-section wins; callers walk newest → oldest). Returns the
    * section's trailer facts, or None on any structural failure. */
  private def xrefSection(b: Array[Byte], off: Long,
      entries: java.util.HashMap[Long, Entry]): Option[Section] = {
    if (off < 0 || off >= b.length) return None
    val c = new Cur(b, off.toInt)
    if (!c.keyword("xref")) return None // an xref STREAM dispatches in section()
    var guard = 0
    c.skipWs()
    while (!c.keyword("trailer")) {
      val start = c.int()
      val count = c.int()
      if (start < 0 || count < 0 || count > MaxEntries ||
        entries.size + count > MaxEntries) return None
      // entries are exactly 20 bytes each, immediately after the EOL
      c.skipWs()
      var k = 0L
      while (k < count) {
        if (c.i + 20 > b.length) return None
        val entry = new String(b, c.i, 20, "ISO-8859-1")
        val eOff = entry.substring(0, 10)
        val eType = entry.charAt(17)
        if (!eOff.forall(_.isDigit) || entry.charAt(10) != ' ' ||
          entry.charAt(16) != ' ' || (eType != 'n' && eType != 'f')) return None
        val objNum = start + k
        if (!entries.containsKey(objNum))
          entries.put(objNum,
            if (eType == 'n') Entry(1, eOff.toLong, 0L) else Entry(0, 0L, 0L))
        c.i += 20
        k += 1
      }
      c.skipWs()
      guard += 1
      if (guard > 64) return None
    }
    // trailer dictionary: only the keys the triage needs
    c.skipWs()
    if (!c.keyword("<<")) return None
    var root = -1L
    var prev = -1L
    var enc = false
    var encObj = -1L
    var id0: Array[Byte] = null
    var depth = 1
    val dictStart = c.i
    while (depth > 0 && c.i < b.length && c.i - dictStart < DictWindow) {
      c.skipWs()
      if (c.keyword("<<")) depth += 1
      else if (c.keyword(">>")) depth -= 1
      else if (depth == 1 && c.name("/Root")) {
        root = c.int()
        if (c.int() < 0 || !c.keyword("R")) return None
      } else if (depth == 1 && c.name("/Prev")) {
        prev = c.int()
        if (prev < 0) return None
      } else if (depth == 1 && c.name("/Encrypt")) {
        enc = true
        val mark = c.i
        val n = c.int()
        if (n >= 0 && c.int() >= 0 && c.keyword("R")) encObj = n
        else c.i = mark // a direct dict: flagged, not decryptable
      } else if (depth == 1 && c.name("/ID")) {
        val mark = c.i
        if (c.keyword("[")) {
          val h = c.hexStr()
          if (h != null) id0 = h else c.i = mark
        } else c.i = mark
      } else c.i += 1
    }
    if (depth != 0) return None
    Some(Section(root, enc, prev, encObj, id0))
  }

  /** Scan a dictionary starting at `start` (must open with `<<`) for
    * `/key a b R` → a, or `/key N` → N when `ref` is false; `objType`
    * (when non-empty) must match the dict's /Type. Shared by plain
    * objects, object-STREAM members, and the stream dicts. */
  private def dictScan(b: Array[Byte], start: Int, objType: String,
      key: String, ref: Boolean): Long = {
    if (start < 0 || start >= b.length) return -1L
    val c = new Cur(b, start)
    if (!c.keyword("<<")) return -1L
    var typeOk = objType.isEmpty
    var value = -1L
    var depth = 1
    val dictStart = c.i
    while (depth > 0 && c.i < b.length && c.i - dictStart < DictWindow) {
      c.skipWs()
      if (c.keyword("<<")) depth += 1
      else if (c.keyword(">>")) depth -= 1
      else if (depth == 1 && objType.nonEmpty && c.name("/Type") && {
        c.skipWs(); c.name("/" + objType)
      }) typeOk = true
      else if (depth == 1 && c.name(key)) {
        val v = c.int()
        if (v < 0) return -1L
        if (ref) { if (c.int() < 0 || !c.keyword("R")) return -1L }
        value = v
      } else c.i += 1
    }
    if (depth == 0 && typeOk) value else -1L
  }

  /** Scan an object's dictionary (at its xref byte offset, behind the
    * "N G obj" header). */
  private def objField(b: Array[Byte], off: Long, objType: String,
      key: String, ref: Boolean): Long = {
    if (off < 0 || off >= b.length) return -1L
    val c = new Cur(b, off.toInt)
    if (c.int() < 0 || c.int() < 0 || !c.keyword("obj")) return -1L
    dictScan(b, c.i, objType, key, ref)
  }

  /** zlib-inflate `len` bytes at `off` (FlateDecode is zlib-wrapped,
    * ISO 32000 §7.4.4), capped at [[GzipMeta.MaxInflate]]; null on any
    * failure — same bomb/hostile discipline as the gzip triage. */
  private[plans] def flate(b: Array[Byte], off: Int, len: Long): Array[Byte] = {
    if (off < 0 || len < 0 || off + len > b.length) return null
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(b, off, len.toInt)
      GzipMeta.inflateBounded(inf, GzipMeta.MaxInflate)
    } finally inf.end()
  }

  /** Reverse the PNG row predictor over `data` (rows of 1 filter byte
    * + `columns` data bytes, bpp = 1 — the xref-stream case: Colors=1,
    * BitsPerComponent=8 per ISO 32000 §7.4.4.4). All five PNG filter
    * types; null on ragged input or an unknown filter. */
  private def pngUnpredict(data: Array[Byte], columns: Int): Array[Byte] = {
    if (columns <= 0 || data.length % (columns + 1) != 0) return null
    val rows = data.length / (columns + 1)
    val out = new Array[Byte](rows * columns)
    var r = 0
    while (r < rows) {
      val f = data(r * (columns + 1)) & 0xFF
      var x = 0
      while (x < columns) {
        val raw = data(r * (columns + 1) + 1 + x) & 0xFF
        val left = if (x > 0) out(r * columns + x - 1) & 0xFF else 0
        val up = if (r > 0) out((r - 1) * columns + x) & 0xFF else 0
        val ul = if (x > 0 && r > 0) out((r - 1) * columns + x - 1) & 0xFF else 0
        val v = f match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => return null
        }
        out(r * columns + x) = (v & 0xFF).toByte
        x += 1
      }
      r += 1
    }
    out
  }

  /** Parse a cross-reference STREAM (ISO 32000 §7.5.8 — the 1.5+
    * layout virtually every modern PDF writer emits) at `off` into
    * `entries`; returns the section facts from the stream's own dict.
    * Supported envelope: /Filter /FlateDecode (or none), /DecodeParms
    * with the PNG predictors (the layout every real writer uses);
    * other filters decline. */
  private def xrefStreamSection(b: Array[Byte], off: Long,
      entries: java.util.HashMap[Long, Entry]): Option[Section] = {
    if (off < 0 || off >= b.length) return None
    val c = new Cur(b, off.toInt)
    if (c.int() < 0 || c.int() < 0 || !c.keyword("obj")) return None
    val dictAt = c.i
    // walk the dict once for structure + the scalar keys
    if (!c.keyword("<<")) return None
    var depth = 1
    var w1 = -1L; var w2 = -1L; var w3 = -1L
    var size = -1L; var root = -1L; var prev = -1L; var length = -1L
    var enc = false
    var encObj = -1L
    var id0: Array[Byte] = null
    var flateFilter = false; var anyFilter = false
    var predictor = 1L; var columns = 1L
    val index = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var typeOk = false
    val dictStart = c.i
    while (depth > 0 && c.i < b.length && c.i - dictStart < DictWindow) {
      c.skipWs()
      if (c.keyword("<<")) depth += 1
      else if (c.keyword(">>")) depth -= 1
      else if (depth == 1 && c.name("/Type") && { c.skipWs(); c.name("/XRef") })
        typeOk = true
      else if (depth == 1 && c.name("/W")) {
        if (!c.keyword("[")) return None
        w1 = c.int(); w2 = c.int(); w3 = c.int()
        if (w1 < 0 || w2 < 0 || w3 < 0 || w1 > 4 || w2 > 8 || w3 > 8 ||
          !c.keyword("]")) return None
      } else if (depth == 1 && c.name("/Index")) {
        if (!c.keyword("[")) return None
        var n = c.int()
        while (n >= 0 && index.length < 64) {
          val cnt = c.int()
          if (cnt < 0) return None
          index += ((n, cnt))
          n = c.int()
        }
        if (!c.keyword("]")) return None
      } else if (depth == 1 && c.name("/Size")) {
        size = c.int(); if (size < 0) return None
      } else if (depth == 1 && c.name("/Length")) {
        length = c.int(); if (length < 0) return None
      } else if (depth == 1 && c.name("/Root")) {
        root = c.int()
        if (c.int() < 0 || !c.keyword("R")) return None
      } else if (depth == 1 && c.name("/Prev")) {
        prev = c.int(); if (prev < 0) return None
      } else if (depth == 1 && c.name("/Encrypt")) {
        enc = true
        val mark = c.i
        val n = c.int()
        if (n >= 0 && c.int() >= 0 && c.keyword("R")) encObj = n
        else c.i = mark
      } else if (depth == 1 && c.name("/ID")) {
        val mark = c.i
        if (c.keyword("[")) {
          val h = c.hexStr()
          if (h != null) id0 = h else c.i = mark
        } else c.i = mark
      } else if (depth == 1 && c.name("/Filter")) {
        anyFilter = true
        c.skipWs()
        if (c.name("/FlateDecode")) flateFilter = true
      } else if (depth == 1 && c.name("/DecodeParms")) {
        // nested dict: pull Predictor/Columns from it
        c.skipWs()
        if (c.keyword("<<")) {
          var d2 = 1
          val pStart = c.i
          while (d2 > 0 && c.i < b.length && c.i - pStart < 512) {
            c.skipWs()
            if (c.keyword("<<")) d2 += 1
            else if (c.keyword(">>")) d2 -= 1
            else if (d2 == 1 && c.name("/Predictor")) {
              predictor = c.int(); if (predictor < 0) return None
            } else if (d2 == 1 && c.name("/Columns")) {
              columns = c.int(); if (columns <= 0) return None
            } else c.i += 1
          }
          if (d2 != 0) return None
        }
      } else c.i += 1
    }
    if (depth != 0 || !typeOk || w2 <= 0 || size < 0 || length < 0) return None
    if (anyFilter && !flateFilter) return None // non-Flate filters decline
    // the stream payload: "stream" EOL <Length bytes> "endstream"
    val s = new Cur(b, dictAt)
    // reuse the dict walk to find its end, then expect the keyword
    if (!s.keyword("<<")) return None
    var d = 1
    while (d > 0 && s.i < b.length) {
      if (s.keyword("<<")) d += 1
      else if (s.keyword(">>")) d -= 1
      else s.i += 1
    }
    if (d != 0 || !s.keyword("stream")) return None
    // EOL after "stream": CRLF or LF (ISO 32000 §7.3.8.1)
    if (s.i < b.length && b(s.i) == '\r') s.i += 1
    if (s.i >= b.length || b(s.i) != '\n') return None
    s.i += 1
    if (s.i + length > b.length) return None
    val rawData =
      if (flateFilter) flate(b, s.i, length)
      else java.util.Arrays.copyOfRange(b, s.i, s.i + length.toInt)
    if (rawData == null) return None
    val rowBytes = w1 + w2 + w3
    val data =
      if (predictor >= 10) pngUnpredict(rawData, rowBytes.toInt)
      else if (predictor == 1) rawData
      else return None // TIFF predictor 2: not emitted by real writers
    if (data == null || rowBytes <= 0) return None
    if (columns != 1 && predictor >= 10 && columns != rowBytes) return None
    if (data.length % rowBytes != 0) return None
    val subsections = if (index.isEmpty) Seq((0L, size)) else index.toSeq
    val totalRows = data.length / rowBytes
    var row = 0
    def field(r: Int, at: Long, w: Long): Long = {
      var v = 0L
      var j = 0L
      while (j < w) {
        v = (v << 8) | (data((r * rowBytes + at + j).toInt) & 0xFFL)
        j += 1
      }
      v
    }
    for ((start, cnt) <- subsections) {
      if (start < 0 || cnt < 0 || entries.size + cnt > MaxEntries) return None
      var k = 0L
      while (k < cnt) {
        if (row >= totalRows) return None // lying /Index vs data length
        val kind = if (w1 == 0) 1L else field(row, 0, w1)
        val f2 = field(row, w1, w2)
        val f3 = if (w3 == 0) 0L else field(row, w1 + w2, w3)
        val objNum = start + k
        if (!entries.containsKey(objNum)) {
          val e = kind match {
            case 0 => Entry(0, 0L, 0L)
            case 1 => Entry(1, f2, 0L)
            case 2 => Entry(2, f2, f3)
            case _ => return None
          }
          entries.put(objNum, e)
        }
        row += 1
        k += 1
      }
    }
    Some(Section(root, enc, prev, encObj, id0))
  }

  /** One xref section at `off`, whichever layout: the classic table
    * (keyword `xref`) or the 1.5+ cross-reference stream. Hybrid
    * files mixing both across the /Prev chain parse naturally. */
  private def section(b: Array[Byte], off: Long,
      entries: java.util.HashMap[Long, Entry]): Option[Section] = {
    if (off < 0 || off >= b.length) return None
    val probe = new Cur(b, off.toInt)
    if (probe.keyword("xref")) xrefSection(b, off, entries)
    else xrefStreamSection(b, off, entries)
  }

  /** Extract compressed object `idx` from object STREAM `stmObj`'s
    * inflated payload and scan its dictionary — the type-2 resolution
    * hop (ISO 32000 §7.5.7: /N pairs of "objnum offset" then the
    * objects packed from /First). */
  private def objStmField(b: Array[Byte], entries: java.util.HashMap[Long, Entry],
      stmObj: Long, objNum: Long, objType: String, key: String,
      ref: Boolean): Long = {
    val se = entries.get(stmObj)
    if (se == null || se.kind != 1) return -1L
    val off = se.a
    if (off < 0 || off >= b.length) return -1L
    val c = new Cur(b, off.toInt)
    if (c.int() < 0 || c.int() < 0 || !c.keyword("obj")) return -1L
    val dictAt = c.i
    val n = dictScan(b, dictAt, "ObjStm", "/N", ref = false)
    val first = dictScan(b, dictAt, "ObjStm", "/First", ref = false)
    val length = dictScan(b, dictAt, "ObjStm", "/Length", ref = false)
    if (n <= 0 || n > 4096 || first < 0 || length < 0) return -1L
    // locate the payload like the xref stream does
    val s = new Cur(b, dictAt)
    if (!s.keyword("<<")) return -1L
    var d = 1
    while (d > 0 && s.i < b.length) {
      if (s.keyword("<<")) d += 1
      else if (s.keyword(">>")) d -= 1
      else s.i += 1
    }
    if (d != 0 || !s.keyword("stream")) return -1L
    if (s.i < b.length && b(s.i) == '\r') s.i += 1
    if (s.i >= b.length || b(s.i) != '\n') return -1L
    s.i += 1
    val data = flate(b, s.i, length)
    if (data == null) return -1L
    // header: n pairs "objnum offset" relative to /First
    val h = new Cur(data, 0)
    var k = 0L
    while (k < n) {
      val num = h.int()
      val rel = h.int()
      if (num < 0 || rel < 0) return -1L
      if (num == objNum) {
        if (first + rel >= data.length) return -1L
        // compressed objects carry no "N G obj" header — the dict
        // starts directly at its offset
        return dictScan(data, (first + rel).toInt, objType, key, ref)
      }
      k += 1
    }
    -1L
  }

  /** Resolve object `objNum` through the entry map (plain offset or
    * object-stream member) and scan its dictionary. */
  private def resolveField(b: Array[Byte], entries: java.util.HashMap[Long, Entry],
      objNum: Long, objType: String, key: String, ref: Boolean): Long = {
    val e = entries.get(objNum)
    if (e == null) return -1L
    e.kind match {
      case 1 => objField(b, e.a, objType, key, ref)
      case 2 => objStmField(b, entries, e.a, objNum, objType, key, ref)
      case _ => -1L
    }
  }

  /** The resolved xref state of one file: the shadowed entry map, the
    * /Root object number, and the /Encrypt flag — everything both the
    * triage and the text tier need before touching an object. */
  private[plans] final case class Chain(
      entries: java.util.HashMap[Long, Entry], root: Long, encrypted: Boolean,
      encObj: Long, id0: Array[Byte])

  /** Header check + startxref + the full /Prev chain walk (steps 1-4
    * of the triage contract), shared with [[PdfPageTexts]]. Null on
    * any structural failure. */
  private[plans] def chainWalk(b: Array[Byte]): Chain = {
    if (b == null || b.length < 32) return null
    // 1. header
    if (!(b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' &&
      b(4) == '-' && b(5).toChar.isDigit && b(6) == '.' &&
      b(7).toChar.isDigit)) return null
    // 2. startxref in the tail
    val tailStart = math.max(0, b.length - 128)
    val tail = new String(b, tailStart, b.length - tailStart, "ISO-8859-1")
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) return null
    val c = new Cur(b, tailStart + sx + "startxref".length)
    val xrefOff = c.int()
    // %%EOF is LEXICALLY a comment (the skipper would swallow it), so
    // it is located textually like startxref was
    if (xrefOff < 0 ||
      tail.indexOf("%%EOF", c.i - tailStart) < 0) return null
    // 3.+4. the xref chain, newest first — each section whichever
    // layout it is (classic table or 1.5+ xref stream; hybrids mix)
    val entries = new java.util.HashMap[Long, Entry]()
    var rootObj = -1L
    var encrypted = false
    var encObj = -1L
    var id0: Array[Byte] = null
    var off = xrefOff
    var hops = 0
    while (off >= 0 && hops < MaxPrevHops) {
      section(b, off, entries) match {
        case None => return null
        case Some(s) =>
          if (rootObj < 0 && s.rootObj >= 0) rootObj = s.rootObj
          encrypted |= s.encrypted
          if (encObj < 0 && s.encObj >= 0) encObj = s.encObj
          if (id0 == null && s.id0 != null) id0 = s.id0
          off = s.prev
          hops += 1
      }
    }
    if (off >= 0) return null // /Prev chain exceeded the hop bound
    if (rootObj < 0) return null
    Chain(entries, rootObj, encrypted, encObj, id0)
  }

  def parse(b: Array[Byte]): InternalRow = {
    val chain = chainWalk(b)
    if (chain == null) return null
    val version = new String(b, 5, 3, "ISO-8859-1")
    val entries = chain.entries
    val rootObj = chain.root
    val encrypted = chain.encrypted
    var nObjects = 0
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.kind != 0 && e.getKey != 0L) nObjects += 1
    }
    // 5.+6. Root → Catalog → page-tree root → /Count, each hop
    // resolved through the entry map (plain or object-stream member)
    val pagesObj = resolveField(b, entries, rootObj, "Catalog", "/Pages", ref = true)
    if (pagesObj < 0) return null
    val count = resolveField(b, entries, pagesObj, "Pages", "/Count", ref = false)
    if (count < 0 || count > Int.MaxValue) return null
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(version), count.toInt, encrypted, nObjects))
  }
}

/** `graft_pdf_encode(seed, n_pages, minor, encrypted)` → binary: a
  * structurally complete classic-xref PDF for the fixture corpus —
  * header `%PDF-1.<minor>`, a seed-length comment (so xref offsets
  * vary across the corpus), Catalog → Pages (with /Count and real
  * /Kids refs) → one Page object per page, an optional /Encrypt
  * dictionary, a byte-exact cross-reference table over all of it, and
  * the trailer/startxref/%%EOF epilogue. Every field the triage
  * reports derives from (seed, n_pages, minor, encrypted), so the
  * DuckDB oracle restates it exactly. */
case class PdfEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType, IntegerType, BooleanType, IntegerType)
    if (children.length == 5 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_pdf_encode expects (long seed, int n_pages, int minor, boolean encrypted, int layout)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pdf_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else PdfEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Boolean],
      vs(4).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PdfEncode = copy(children = newChildren)
}

object PdfEncode {

  /** layout 0 = classic xref table; 1 = cross-reference STREAM
    * (FlateDecode + PNG Up predictor — the modern writer's default);
    * 2 = xref stream (plain Flate) with Catalog+Pages packed in an
    * object STREAM (type-2 entries). Reported-field contract:
    * n_objects = nPages + 2 + layout + (encrypted ? 1 : 0). */
  def encode(seed: Long, nPages: Int, minor: Int, encrypted: Boolean,
      layout: Int): Array[Byte] = {
    if (seed < 0 || nPages < 1 || nPages > 512 || minor < 0 || minor > 7) return null
    if (layout < 0 || layout > 2) return null
    if (layout == 0) classic(seed, nPages, minor, encrypted)
    else modern(seed, nPages, minor, encrypted, objStm = layout == 2)
  }

  private def header(seed: Long, minor: Int): StringBuilder = {
    val sb = new StringBuilder()
    sb.append(s"%PDF-1.$minor\n")
    // seed-length comment: offsets vary across the corpus
    sb.append("%")
    val filler = (seed % 48).toInt + 4
    var i = 0
    while (i < filler) { sb.append(('A' + ((seed + 13 * i) % 26)).toChar); i += 1 }
    sb.append("\n")
    sb
  }

  private def classic(seed: Long, nPages: Int, minor: Int,
      encrypted: Boolean): Array[Byte] = {
    val sb = header(seed, minor)
    val offsets = new scala.collection.mutable.ArrayBuffer[Int]()
    def obj(body: String): Unit = {
      offsets += sb.length
      sb.append(s"${offsets.length} 0 obj\n$body\nendobj\n")
    }
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    val kids = (0 until nPages).map(p => s"${3 + p} 0 R").mkString(" ")
    obj(s"<< /Type /Pages /Kids [ $kids ] /Count $nPages >>")
    (0 until nPages).foreach { _ =>
      obj("<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] >>")
    }
    if (encrypted)
      obj("<< /Filter /Standard /V 1 /R 2 >>")
    val size = offsets.length + 1
    val xrefAt = sb.length
    sb.append(s"xref\n0 $size\n")
    sb.append("0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size $size /Root 1 0 R")
    if (encrypted) sb.append(s" /Encrypt ${offsets.length} 0 R")
    sb.append(s" >>\nstartxref\n$xrefAt\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }

  /** zlib-deflate (FlateDecode is zlib-wrapped). */
  private def zlib(payload: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(payload); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Forward PNG Up filter over rows of `columns` bytes. */
  private def pngUp(raw: Array[Byte], columns: Int): Array[Byte] = {
    val rows = raw.length / columns
    val out = new Array[Byte]((columns + 1) * rows)
    var r = 0
    while (r < rows) {
      out(r * (columns + 1)) = 2 // Up
      var x = 0
      while (x < columns) {
        val up = if (r > 0) raw((r - 1) * columns + x) & 0xFF else 0
        out(r * (columns + 1) + 1 + x) =
          (((raw(r * columns + x) & 0xFF) - up) & 0xFF).toByte
        x += 1
      }
      r += 1
    }
    out
  }

  // ISO-8859-1 is byte-bijective, so binary stream payloads ride the
  // StringBuilder losslessly and one final getBytes reproduces them
  private def bin(bytes: Array[Byte]): String = new String(bytes, "ISO-8859-1")

  private def modern(seed: Long, nPages: Int, minor: Int,
      encrypted: Boolean, objStm: Boolean): Array[Byte] = {
    val sb = header(seed, minor)
    // numbering: 1 catalog, 2 pages, 3..n+2 pages, [n+3 encrypt],
    // [next ObjStm container], last = the xref stream itself
    val encNum = if (encrypted) Some(nPages + 3) else None
    val stmNum = if (objStm) nPages + 3 + encNum.size else -1
    val xrefNum = nPages + 3 + encNum.size + (if (objStm) 1 else 0)
    val size = xrefNum + 1
    val offsets = new java.util.HashMap[Int, Int]()
    def obj(num: Int, body: String): Unit = {
      offsets.put(num, sb.length)
      sb.append(s"$num 0 obj\n$body\nendobj\n")
    }
    val catalogDict = "<< /Type /Catalog /Pages 2 0 R >>"
    val kids = (0 until nPages).map(p => s"${3 + p} 0 R").mkString(" ")
    val pagesDict = s"<< /Type /Pages /Kids [ $kids ] /Count $nPages >>"
    var stmIdx = Map.empty[Int, Int] // objnum -> index within the ObjStm
    if (!objStm) {
      obj(1, catalogDict)
      obj(2, pagesDict)
    }
    (0 until nPages).foreach { p =>
      obj(3 + p, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] >>")
    }
    encNum.foreach(e => obj(e, "<< /Filter /Standard /V 1 /R 2 >>"))
    if (objStm) {
      // the container: header pairs (objnum offset-from-First), then
      // the member dicts packed back to back
      val members = Seq(1 -> catalogDict, 2 -> pagesDict)
      stmIdx = members.zipWithIndex.map { case ((n, _), i) => n -> i }.toMap
      var rel = 0
      val pairs = members.map { case (n, d) =>
        val p = s"$n $rel"; rel += d.length + 1; p
      }.mkString(" ") + "\n"
      val content = pairs + members.map(_._2 + "\n").mkString
      val data = zlib(content.getBytes("ISO-8859-1"))
      obj(stmNum, s"<< /Type /ObjStm /N ${members.length} /First ${pairs.length} " +
        s"/Filter /FlateDecode /Length ${data.length} >>\nstream\n" +
        bin(data) + "\nendstream")
    }
    // the cross-reference stream: W = [1 4 2], rows for 0..size-1
    val rowBytes = 7
    val raw = new Array[Byte](size * rowBytes)
    def putRow(num: Int, kind: Int, f2: Long, f3: Int): Unit = {
      val at = num * rowBytes
      raw(at) = kind.toByte
      raw(at + 1) = ((f2 >> 24) & 0xFF).toByte
      raw(at + 2) = ((f2 >> 16) & 0xFF).toByte
      raw(at + 3) = ((f2 >> 8) & 0xFF).toByte
      raw(at + 4) = (f2 & 0xFF).toByte
      raw(at + 5) = ((f3 >> 8) & 0xFF).toByte
      raw(at + 6) = (f3 & 0xFF).toByte
    }
    val xrefAt = sb.length
    putRow(0, 0, 0L, 0xFFFF)
    (1 to xrefNum).foreach { num =>
      if (stmIdx.contains(num)) putRow(num, 2, stmNum.toLong, stmIdx(num))
      else if (num == xrefNum) putRow(num, 1, xrefAt.toLong, 0)
      else putRow(num, 1, offsets.get(num).toLong, 0)
    }
    // layout 1 exercises the PNG Up predictor (the writer default);
    // layout 2 the raw-Flate path — both certified by one oracle
    val (data, parms) =
      if (!objStm) (zlib(pngUp(raw, rowBytes)),
        s"/DecodeParms << /Predictor 12 /Columns $rowBytes >> ")
      else (zlib(raw), "")
    offsets.put(xrefNum, xrefAt)
    sb.append(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [ 1 4 2 ] " +
      s"/Root 1 0 R " +
      encNum.map(e => s"/Encrypt $e 0 R ").getOrElse("") +
      s"/Filter /FlateDecode $parms/Length ${data.length} >>\nstream\n" +
      bin(data) + "\nendstream\nendobj\n")
    sb.append(s"startxref\n$xrefAt\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }
}

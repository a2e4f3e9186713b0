package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OpenDocument Text extraction — the other ZIP-of-XML
  * word-processing family (ODF 1.3, an OASIS public spec): an .odt
  * is a ZIP whose `content.xml` holds the text in `<text:p>` /
  * `<text:h>` paragraphs.
  *
  * `graft_odt_text(binary)` → string: paragraphs and headings joined
  * with '\n' in document order; within one,
  *
  *  - character data concatenates in document order (ODF puts text
  *    directly inside `<text:p>` and inline `<text:span>` elements —
  *    unlike WordprocessingML there is no run wrapper to key on, so
  *    the scan keeps chars BETWEEN tags);
  *  - `<text:tab/>` appends '\t', `<text:line-break/>` '\n',
  *    `<text:s/>` a space — `text:c="N"` makes it N spaces (the ODF
  *    whitespace-collapsing escape);
  *  - the five XML entities + numeric character references decode
  *    (the shared office decoder, lone surrogates ride through);
  *  - `<office:annotation>` and `<text:note>` blocks are SKIPPED
  *    whole (margin commentary and footnote bodies are not the
  *    paragraph's text — the xlsx rPh discipline).
  *
  * The root element must bind `xmlns:text` to the ODF text namespace
  * (the docx/pptx prefix-guard discipline: a document binding it to
  * another prefix would silently extract garbage, so it DECLINES).
  * NULL when the archive or its `content.xml` is absent/corrupt (one
  * CRC-gated [[ZipExtract]] hop), or past the 8192-paragraph cap
  * with more content remaining — over-cap declines, never truncates.
  * 1 MiB extract ceiling. */
case class OdtText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_odt_text expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_odt_text"

  override def nullSafeEval(input: Any): Any =
    OdtText.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.OdtText.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): OdtText =
    copy(child = newChild)
}

object OdtText {

  private val MaxParas = 8192
  // output ceiling: <text:s text:c="9999"/> is a ~450x amplifier (22
  // input bytes → 9999 spaces), so the builder is bounded like RTF's
  private val MaxOut = 1 << 20
  private val TextNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

  private def delimAt(x: String, at: Int): Boolean =
    at >= x.length || {
      val c = x.charAt(at)
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' || c == '\r'
    }

  import ZipExtract.attr

  def parse(zip: Array[Byte]): UTF8String = {
    val xmlBytes = ZipExtract.extract(zip, "content.xml")
    if (xmlBytes == null) return null
    val x = new String(xmlBytes, "UTF-8")
    // the prefix guard: text: must be bound to the ODF text namespace
    // somewhere in the root tag, and the namespace must never be
    // bound to another prefix (the scan would silently miss it)
    var nsAt = x.indexOf(TextNs)
    if (nsAt < 0) return null
    while (nsAt >= 0) {
      if (nsAt < 12 || !x.regionMatches(nsAt - 12, "xmlns:text=\"", 0, 12))
        return null
      nsAt = x.indexOf(TextNs, nsAt + 1)
    }
    val out = new java.lang.StringBuilder(256)
    var at = 0
    var paras = 0
    def nextPara(from: Int): Int = {
      // the next <text:p or <text:h (name-delimited)
      var p = x.indexOf("<text:p", from)
      while (p >= 0 && !delimAt(x, p + 7)) p = x.indexOf("<text:p", p + 7)
      var h = x.indexOf("<text:h", from)
      while (h >= 0 && !delimAt(x, h + 7)) h = x.indexOf("<text:h", h + 7)
      if (p < 0) h else if (h < 0) p else math.min(p, h)
    }
    while (paras < MaxParas) {
      val open = nextPara(at)
      if (open < 0) return UTF8String.fromString(out.toString)
      val isP = x.startsWith("<text:p", open)
      val openName = if (isP) "<text:p" else "<text:h"
      val closeTag = if (isP) "</text:p>" else "</text:h>"
      val openGt = x.indexOf('>', open)
      if (openGt < 0) return null
      if (paras > 0) out.append('\n')
      paras += 1
      if (x.charAt(openGt - 1) == '/') { at = openGt + 1 } // empty paragraph
      else {
        // the MATCHING close: annotations/notes nest their own
        // <text:p> inside a paragraph, so a naive first-close search
        // would truncate at the inner one
        val end = {
          var depth = 1
          var j = openGt + 1
          var found = -1
          while (found < 0 && depth > 0) {
            val lt = x.indexOf('<', j)
            if (lt < 0) return null
            if (x.startsWith(closeTag, lt)) {
              depth -= 1
              if (depth == 0) found = lt else j = lt + closeTag.length
            } else if (x.startsWith(openName, lt) &&
                delimAt(x, lt + openName.length)) {
              val gt = x.indexOf('>', lt)
              if (gt < 0) return null
              if (x.charAt(gt - 1) != '/') depth += 1
              j = gt + 1
            } else j = lt + 1
          }
          found
        }
        var i = openGt + 1
        while (i < end) {
          if (out.length > MaxOut) return null
          val lt = x.indexOf('<', i)
          val stop = if (lt < 0 || lt > end) end else lt
          if (stop > i)
            out.append(DocxText.decodeEntities(x.substring(i, stop)))
          if (stop >= end) i = end
          else if (x.startsWith("<text:tab", lt) && delimAt(x, lt + 9)) {
            out.append('\t')
            val gt = x.indexOf('>', lt)
            if (gt < 0 || gt > end) return null
            i = gt + 1
          } else if (x.startsWith("<text:line-break", lt) && delimAt(x, lt + 16)) {
            out.append('\n')
            val gt = x.indexOf('>', lt)
            if (gt < 0 || gt > end) return null
            i = gt + 1
          } else if (x.startsWith("<text:s", lt) && delimAt(x, lt + 7)) {
            val gt = x.indexOf('>', lt)
            if (gt < 0 || gt > end) return null
            val n = attr(x.substring(lt, gt), "text:c") match {
              case null => 1
              case v =>
                if (v.isEmpty || v.length > 4 || !v.forall(_.isDigit)) return null
                v.toInt
            }
            var k = 0
            while (k < n) { out.append(' '); k += 1 }
            i = gt + 1
          } else if ((x.startsWith("<office:annotation", lt) &&
              delimAt(x, lt + 18)) ||
            (x.startsWith("<text:note", lt) && delimAt(x, lt + 10))) {
            // margin commentary / footnote bodies: skip the block
            val closer = if (x.charAt(lt + 1) == 'o') "</office:annotation>"
              else "</text:note>"
            val gt = x.indexOf('>', lt)
            if (gt < 0 || gt > end) return null
            if (x.charAt(gt - 1) == '/') i = gt + 1 // self-closing
            else {
              val blockEnd = x.indexOf(closer, lt)
              if (blockEnd < 0 || blockEnd > end) return null
              i = blockEnd + closer.length
            }
          } else {
            // any other tag (spans, bookmarks, styling) is inert
            val gt = x.indexOf('>', lt)
            if (gt < 0 || gt > end) return null
            i = gt + 1
          }
        }
        at = end + closeTag.length
      }
    }
    // cap reached: DECLINE if more paragraphs remain (the office
    // family's never-truncate posture)
    if (nextPara(at) >= 0) null else UTF8String.fromString(out.toString)
  }
}

/** `graft_odt_encode(seed, n_paras)` → binary: a REAL odt written by
  * the JDK's ZipOutputStream with the ODF shell (mimetype stored
  * FIRST and uncompressed per OASIS packaging, manifest,
  * content.xml). Paragraphs carry inline `<text:span>` runs with
  * live entities, `<text:s text:c="2"/>` multi-space escapes,
  * `<text:tab/>` on every (seed+i)%3==0 paragraph, a skipped
  * `<office:annotation>` block on (seed+i)%4==0, and a `<text:h>`
  * heading as paragraph 0 — all (seed, i) arithmetic for the oracle
  * ([[OdtEncode.decodedPara]]). */
case class OdtEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType)
    if (children.length == 2 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_odt_encode expects (long seed, int n_paras)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_odt_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else OdtEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OdtEncode =
    copy(children = newChildren)
}

object OdtEncode {

  /** What [[OdtText]] must decode paragraph i (0-based) to — the
    * oracle's contract. Paragraph 0 is the heading. */
  def decodedPara(seed: Long, i: Int): String = {
    if (i == 0) return s"Doc $seed heading"
    s"Item $i of doc $seed: a & b  <x=${(seed + i) % 9}>" +
      (if ((seed + i) % 3 == 0) "\tend" else "")
  }

  def encode(seed: Long, nParas: Int): Array[Byte] = {
    if (seed < 0 || nParas < 1 || nParas > 64) return null
    val textNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    val officeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    val sb = new StringBuilder()
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append(s"""<office:document-content xmlns:office="$officeNs" """ +
      s"""xmlns:text="$textNs" office:version="1.3">""")
    sb.append("<office:body><office:text>")
    sb.append(s"""<text:h text:outline-level="1">Doc $seed heading</text:h>""")
    var i = 1
    while (i < nParas) {
      sb.append(s"""<text:p text:style-name="P${(seed + i) % 3}">""")
      sb.append(s"Item $i of ")
      sb.append(s"""<text:span text:style-name="T1">doc $seed</text:span>""")
      // entities + the multi-space escape + a literal <x=..> via refs
      sb.append(s": a &amp; b<text:s text:c=\"2\"/>&lt;x=${(seed + i) % 9}&gt;")
      if ((seed + i) % 4 == 0)
        sb.append("<office:annotation><text:p>margin note</text:p>" +
          "</office:annotation>")
      if ((seed + i) % 3 == 0) sb.append("<text:tab/>end")
      sb.append("</text:p>")
      i += 1
    }
    sb.append("</office:text></office:body></office:document-content>")
    val content = sb.toString.getBytes("UTF-8")

    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    try {
      // OASIS packaging: "mimetype" first, STORED (magic-sniffable)
      val mt = "application/vnd.oasis.opendocument.text".getBytes("US-ASCII")
      val e = new java.util.zip.ZipEntry("mimetype")
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(mt.length)
      val crc = new java.util.zip.CRC32()
      crc.update(mt)
      e.setCrc(crc.getValue)
      z.putNextEntry(e)
      z.write(mt)
      z.closeEntry()
      z.putNextEntry(new java.util.zip.ZipEntry("META-INF/manifest.xml"))
      z.write(("<manifest:manifest xmlns:manifest=\"urn:oasis:names:tc:" +
        "opendocument:xmlns:manifest:1.0\"><manifest:file-entry " +
        "manifest:full-path=\"/\" manifest:media-type=" +
        "\"application/vnd.oasis.opendocument.text\"/></manifest:manifest>")
        .getBytes("UTF-8"))
      z.closeEntry()
      z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
      z.write(content)
      z.closeEntry()
    } finally z.close()
    bos.toByteArray
  }
}

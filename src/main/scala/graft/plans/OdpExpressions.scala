package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OpenDocument Presentation extraction — the third ODF member. An
  * .odp's `content.xml` holds one `<draw:page>` per slide, its text
  * in `<text:p>` paragraphs inside draw frames/text boxes.
  *
  * `graft_odp_slides(binary)` → `array<string>`, one element per
  * slide in document order; within a slide,
  *
  *  - `<text:p>` paragraphs join with '\n'; character data
  *    concatenates between tags (inline spans inert);
  *  - `<text:tab/>` appends '\t', `<text:line-break/>` '\n',
  *    `<text:s text:c="N"/>` N spaces; entities decode;
  *  - `<presentation:notes>` blocks are SKIPPED whole — speaker
  *    notes carry their own `<text:p>` that are not slide body (the
  *    annotation discipline);
  *  - a slide with no text contributes "".
  *
  * The prefix guard covers draw: and text: (a document binding
  * either namespace to another prefix declines rather than silently
  * serving nothing/garbage). NULL when the archive or content.xml is
  * absent/corrupt, has NO draw:page at all, or exceeds the 256-slide
  * / 8192-paragraph caps with more content — over-cap declines,
  * never truncates. 1 MiB extract ceiling. */
case class OdpSlides(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_odp_slides expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_odp_slides"

  override def nullSafeEval(input: Any): Any =
    OdpSlides.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.OdpSlides.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): OdpSlides =
    copy(child = newChild)
}

object OdpSlides {

  private val MaxSlides = 256
  private val MaxParas = 8192
  // per-slide output ceiling: <text:s text:c="9999"/> amplifies ~450x
  private val MaxOut = 1 << 20
  private val DrawNs = "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
  private val TextNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

  private def delimAt(x: String, at: Int): Boolean =
    at >= x.length || {
      val c = x.charAt(at)
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' || c == '\r'
    }

  private def boundTo(x: String, ns: String, prefix: String): Boolean = {
    val key = "xmlns:" + prefix + "=\""
    var at = x.indexOf(ns)
    if (at < 0) return false
    while (at >= 0) {
      if (at < key.length || !x.regionMatches(at - key.length, key, 0, key.length))
        return false
      at = x.indexOf(ns, at + 1)
    }
    true
  }

  import ZipExtract.attr

  def parse(zip: Array[Byte]): GenericArrayData = {
    val xmlBytes = ZipExtract.extract(zip, "content.xml")
    if (xmlBytes == null) return null
    val x = new String(xmlBytes, "UTF-8")
    if (!boundTo(x, DrawNs, "draw")) return null
    if (x.contains(TextNs) && !boundTo(x, TextNs, "text")) return null
    val slides = Vector.newBuilder[UTF8String]
    var nSlides = 0
    var paras = 0
    var at = 0
    while (true) {
      var pOpen = x.indexOf("<draw:page", at)
      while (pOpen >= 0 && !delimAt(x, pOpen + 10))
        pOpen = x.indexOf("<draw:page", pOpen + 10)
      if (pOpen < 0) {
        val out = slides.result()
        return if (out.isEmpty) null
        else new GenericArrayData(out.toArray[Any])
      }
      nSlides += 1
      if (nSlides > MaxSlides) return null // over-cap: decline
      val pGt = x.indexOf('>', pOpen)
      if (pGt < 0) return null
      if (x.charAt(pGt - 1) == '/') { // an empty page
        slides += UTF8String.fromString("")
        at = pGt + 1
      } else {
        val pEnd = x.indexOf("</draw:page>", pGt)
        if (pEnd < 0) return null
        val out = new java.lang.StringBuilder(64)
        var first = true
        var i = pGt + 1
        while (i < pEnd) {
          // skip speaker-notes blocks before looking for paragraphs
          var note = x.indexOf("<presentation:notes", i)
          while (note >= 0 && note < pEnd && !delimAt(x, note + 19))
            note = x.indexOf("<presentation:notes", note + 19)
          var para = x.indexOf("<text:p", i)
          while (para >= 0 && para < pEnd && !delimAt(x, para + 7))
            para = x.indexOf("<text:p", para + 7)
          if (note >= 0 && note < pEnd && (para < 0 || note < para)) {
            val nGt = x.indexOf('>', note)
            if (nGt < 0 || nGt > pEnd) return null
            if (x.charAt(nGt - 1) == '/') i = nGt + 1
            else {
              val nEnd = x.indexOf("</presentation:notes>", note)
              if (nEnd < 0 || nEnd > pEnd) return null
              i = nEnd + 21
            }
          } else if (para < 0 || para >= pEnd) {
            i = pEnd
          } else {
            paras += 1
            if (paras > MaxParas) return null
            val gt = x.indexOf('>', para)
            if (gt < 0 || gt > pEnd) return null
            if (!first) out.append('\n')
            first = false
            if (x.charAt(gt - 1) == '/') i = gt + 1
            else {
              val end = x.indexOf("</text:p>", gt)
              if (end < 0 || end > pEnd) return null
              var j = gt + 1
              while (j < end) {
                if (out.length > MaxOut) return null
                val lt = x.indexOf('<', j)
                val stop = if (lt < 0 || lt > end) end else lt
                if (stop > j)
                  out.append(DocxText.decodeEntities(x.substring(j, stop)))
                if (stop >= end) j = end
                else if (x.startsWith("<text:tab", lt) && delimAt(x, lt + 9)) {
                  out.append('\t')
                  val g = x.indexOf('>', lt)
                  if (g < 0 || g > end) return null
                  j = g + 1
                } else if (x.startsWith("<text:line-break", lt) &&
                    delimAt(x, lt + 16)) {
                  out.append('\n')
                  val g = x.indexOf('>', lt)
                  if (g < 0 || g > end) return null
                  j = g + 1
                } else if (x.startsWith("<text:s", lt) && delimAt(x, lt + 7)) {
                  val g = x.indexOf('>', lt)
                  if (g < 0 || g > end) return null
                  val n = attr(x.substring(lt, g), "text:c") match {
                    case null => 1
                    case v =>
                      if (v.isEmpty || v.length > 4 || !v.forall(_.isDigit))
                        return null
                      v.toInt
                  }
                  var k = 0
                  while (k < n) { out.append(' '); k += 1 }
                  j = g + 1
                } else {
                  val g = x.indexOf('>', lt)
                  if (g < 0 || g > end) return null
                  j = g + 1
                }
              }
              i = end + 9
            }
          }
        }
        slides += UTF8String.fromString(out.toString)
        at = pEnd + 12
      }
    }
    null // unreachable
  }
}

/** `graft_odp_encode(seed, n_slides)` → binary: a REAL odp (stored
  * mimetype first, manifest, content.xml). Slide k (1-based) carries
  * a title paragraph and a body paragraph inside a draw frame/text
  * box — entities live, a `<text:s text:c="2"/>` escape, a tab on
  * (seed+k)%2==0 slides — plus a `<presentation:notes>` block whose
  * paragraph must be SKIPPED. All (seed, k) arithmetic for the
  * oracle ([[OdpEncode.decodedSlide]]). */
case class OdpEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType)
    if (children.length == 2 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_odp_encode expects (long seed, int n_slides)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_odp_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else OdpEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OdpEncode =
    copy(children = newChildren)
}

object OdpEncode {

  /** What [[OdpSlides]] must decode slide k (1-based) to. */
  def decodedSlide(seed: Long, k: Int): String =
    s"Slide $k of show $seed\nbody & <pt>  j=${(seed + k) % 9}" +
      (if ((seed + k) % 2 == 0) "\tnote" else "")

  def encode(seed: Long, nSlides: Int): Array[Byte] = {
    if (seed < 0 || nSlides < 1 || nSlides > 64) return null
    val officeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    val drawNs = "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
    val textNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    val presNs = "urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"
    val sb = new StringBuilder()
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append(s"""<office:document-content xmlns:office="$officeNs" """ +
      s"""xmlns:draw="$drawNs" xmlns:text="$textNs" """ +
      s"""xmlns:presentation="$presNs">""")
    sb.append("<office:body><office:presentation>")
    var k = 1
    while (k <= nSlides) {
      sb.append(s"""<draw:page draw:name="page$k">""")
      sb.append("""<draw:frame draw:layer="layout"><draw:text-box>""")
      sb.append(s"<text:p>Slide $k of show $seed</text:p>")
      sb.append(s"<text:p>body &amp; &lt;pt&gt;<text:s text:c=\"2\"/>" +
        s"j=${(seed + k) % 9}" +
        (if ((seed + k) % 2 == 0) "<text:tab/>note" else "") +
        "</text:p>")
      sb.append("</draw:text-box></draw:frame>")
      sb.append("<presentation:notes><draw:frame><draw:text-box>" +
        s"<text:p>speaker note $k</text:p>" +
        "</draw:text-box></draw:frame></presentation:notes>")
      sb.append("</draw:page>")
      k += 1
    }
    sb.append("</office:presentation></office:body></office:document-content>")
    val content = sb.toString.getBytes("UTF-8")

    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    try {
      val mt = "application/vnd.oasis.opendocument.presentation".getBytes("US-ASCII")
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
        "\"application/vnd.oasis.opendocument.presentation\"/></manifest:manifest>")
        .getBytes("UTF-8"))
      z.closeEntry()
      z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
      z.write(content)
      z.closeEntry()
    } finally z.close()
    bos.toByteArray
  }
}

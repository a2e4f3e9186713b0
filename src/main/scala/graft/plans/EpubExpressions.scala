package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EPUB chapter-text extraction — the ebook member of the ZIP-of-XML
  * family (EPUB OCF/OPF, the IDPF/W3C specs): a ZIP whose
  * `META-INF/container.xml` names the package document (OPF), whose
  * `<manifest>` maps ids to hrefs and whose `<spine>` lists the
  * reading ORDER — the part a text pipeline must honor, because
  * archive entry order is not reading order.
  *
  * `graft_epub_chapters(binary)` → `array<string>`, one element per
  * spine item in spine order: each referenced XHTML part extracted
  * through the CRC-gated [[ZipExtract]] and reduced to visible text
  * by the SAME extractor the crawl stack uses ([[HtmlText]] —
  * whitespace-normalized, entity-decoded, script/style-stripped).
  *
  * Faithful-or-NULL: a missing/corrupt container, OPF, or spine part
  * declines the document, as does a spine idref with no manifest
  * item, a non-XHTML spine item (fixed-layout image spines are a
  * later tier), or an href that climbs out of the OPF's directory
  * ('..' — never resolved, a zip-slip-shaped lie), or a spine/
  * manifest past the 64/512-entry caps (over-cap declines, never a
  * partial reading order). Shared 1 MiB ceiling per part. */
case class EpubChapters(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_epub_chapters expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_epub_chapters"

  override def nullSafeEval(input: Any): Any =
    EpubChapters.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.EpubChapters.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): EpubChapters =
    copy(child = newChild)
}

object EpubChapters {

  private val MaxSpine = 64
  private val MaxManifest = 512

  /** The FIRST `<tag ...` element's head (everything up to its '>')
    * scanning from `from`, plus the resume position; (null, -1) when
    * no such tag remains or the tag is unterminated. */
  private def tagHead(x: String, tag: String, from: Int): (String, Int) = {
    var at = x.indexOf(s"<$tag", from)
    while (at >= 0) {
      val after = at + tag.length + 1
      val c = if (after < x.length) x.charAt(after) else ' '
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '>' || c == '/') {
        val gt = x.indexOf('>', at)
        if (gt < 0) return (null, -1)
        return (x.substring(at, gt), gt + 1)
      }
      at = x.indexOf(s"<$tag", after)
    }
    (null, -1)
  }

  import ZipExtract.attr

  def parse(zip: Array[Byte]): GenericArrayData = {
    // 1. the OCF container names the package document
    val containerBytes = ZipExtract.extract(zip, "META-INF/container.xml")
    if (containerBytes == null) return null
    val container = new String(containerBytes, "UTF-8")
    val (rootHead, _) = tagHead(container, "rootfile", 0)
    if (rootHead == null) return null
    val opfPath = attr(rootHead, "full-path")
    if (opfPath == null || opfPath.contains("..")) return null
    // 2. the OPF: manifest id→href, spine idrefs in order
    val opfBytes = ZipExtract.extract(zip, opfPath)
    if (opfBytes == null) return null
    val opf = new String(opfBytes, "UTF-8")
    val opfDir = {
      val cut = opfPath.lastIndexOf('/')
      if (cut < 0) "" else opfPath.substring(0, cut + 1)
    }
    val items = new java.util.HashMap[String, (String, String)]() // id -> (href, type)
    var at = 0
    var n = 0
    var manifestDone = false
    while (!manifestDone && n < MaxManifest) {
      val (head, next) = tagHead(opf, "item", at)
      if (next < 0) manifestDone = true // no more <item> tags
      else {
        val id = attr(head, "id")
        val href = attr(head, "href")
        val mt = attr(head, "media-type")
        if (id == null || href == null || mt == null) return null
        items.put(id, (href, mt))
        at = next
        n += 1
      }
    }
    // caps reached with MORE entries present: decline — a partial
    // manifest or reading order is silent truncation, not a book
    if (!manifestDone && tagHead(opf, "item", at)._2 >= 0) return null
    val spine = Vector.newBuilder[String]
    at = 0
    var count = 0
    var done = false
    while (!done && count < MaxSpine) {
      val (head, next) = tagHead(opf, "itemref", at)
      if (next < 0) done = true
      else {
        val idref = attr(head, "idref")
        if (idref == null) return null // an itemref with no idref
        spine += idref
        at = next
        count += 1
      }
    }
    if (!done && tagHead(opf, "itemref", at)._2 >= 0) return null
    val refs = spine.result()
    if (refs.isEmpty) return null
    // 3. each spine item: resolve, extract, reduce to visible text
    val out = new Array[Any](refs.length)
    var i = 0
    while (i < refs.length) {
      val item = items.get(refs(i))
      if (item == null) return null // dangling idref
      val (href, mt) = item
      if (mt != "application/xhtml+xml") return null // fixed-layout tier
      if (href.contains("..")) return null // never climb out
      val path = opfDir + href
      val part = ZipExtract.extract(zip, path)
      if (part == null) return null
      out(i) = UTF8String.fromString(
        HtmlText.extractString(new String(part, "UTF-8")))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_epub_encode(seed, n_chapters)` → binary: a REAL EPUB
  * written by the JDK's ZipOutputStream — `mimetype` STORED first
  * (the OCF rule), the OCF container, an OPF under `OEBPS/` whose
  * manifest is written in REVERSE chapter order while the SPINE is in
  * reading order (the id→href hop and the order source are both
  * load-bearing), and one XHTML chapter per spine item with live
  * entities and a styling tag the extractor must strip. Decoded text
  * per chapter is (seed, i) arithmetic ([[EpubEncode.decodedChapter]]). */
case class EpubEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType)
    if (children.length == 2 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_epub_encode expects (long seed, int n_chapters)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_epub_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else EpubEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EpubEncode = copy(children = newChildren)
}

object EpubEncode {

  /** Chapter i's (1-based) extracted text — the oracle's contract
    * (HtmlText semantics: whitespace-normalized, entities decoded,
    * the <em> styling tag a word boundary, <style> content GONE but
    * the <title> text present — titles ARE visible text). */
  def decodedChapter(seed: Long, i: Int): String = {
    val k = (seed + 3 * i) % 11
    s"c$i Chapter $i of book $seed: alpha & beta $k done"
  }

  private val Container =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
      |<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles>
      |</container>""".stripMargin

  def encode(seed: Long, nChapters: Int): Array[Byte] = {
    if (seed < 0 || nChapters < 1 || nChapters > 32) return null
    def chapter(i: Int): String = {
      val k = (seed + 3 * i) % 11
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<html xmlns=\"http://www.w3.org/1999/xhtml\"><head>" +
        s"<title>c$i</title><style>p { color: red; }</style></head>" +
        s"<body><h1>Chapter $i</h1><p>of book $seed: <em>alpha</em> &amp;\n" +
        s"beta $k done</p></body></html>"
    }
    val opf = {
      val sb = new StringBuilder()
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      sb.append("<package xmlns=\"http://www.idpf.org/2007/opf\" version=\"3.0\" unique-identifier=\"uid\">")
      sb.append("<metadata><dc:title xmlns:dc=\"http://purl.org/dc/elements/1.1/\">t</dc:title></metadata>")
      sb.append("<manifest>")
      // REVERSE order: spine order must come from the spine, not from
      // manifest position
      (nChapters to 1 by -1).foreach { i =>
        sb.append(s"""<item id="c$i" href="ch$i.xhtml" media-type="application/xhtml+xml"/>""")
      }
      sb.append("</manifest><spine>")
      (1 to nChapters).foreach(i => sb.append(s"""<itemref idref="c$i"/>"""))
      sb.append("</spine></package>")
      sb.toString
    }
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    try {
      // OCF: mimetype first, STORED (the only layout real readers
      // sniff without unzipping)
      val mime = "application/epub+zip".getBytes("US-ASCII")
      val me = new java.util.zip.ZipEntry("mimetype")
      me.setMethod(java.util.zip.ZipEntry.STORED)
      me.setSize(mime.length.toLong)
      val crc = new java.util.zip.CRC32()
      crc.update(mime)
      me.setCrc(crc.getValue)
      z.putNextEntry(me); z.write(mime); z.closeEntry()
      Seq("META-INF/container.xml" -> Container,
        "OEBPS/content.opf" -> opf).foreach { case (n, body) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(body.getBytes("UTF-8")); z.closeEntry()
      }
      (1 to nChapters).foreach { i =>
        z.putNextEntry(new java.util.zip.ZipEntry(s"OEBPS/ch$i.xhtml"))
        z.write(chapter(i).getBytes("UTF-8")); z.closeEntry()
      }
    } finally z.close()
    bos.toByteArray
  }
}

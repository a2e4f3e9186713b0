package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** xlsx cell extraction — the spreadsheet member of the ZIP-of-XML
  * office family, and the second-most-common office attachment in a
  * crawl after docx. SpreadsheetML splits content in two: the sheet
  * grid (`xl/worksheets/sheet1.xml`) holds cell envelopes whose
  * string VALUES live behind an index into the workbook-wide shared
  * string table (`xl/sharedStrings.xml`) — so both parts and the
  * index hop are load-bearing, not just a tag scan.
  *
  * `graft_xlsx_cells(binary)` → `array<struct<ref string, value
  * string>>`, one element per non-empty cell of the first worksheet
  * in document order:
  *
  *  - `t="s"`: `<v>` is a shared-string index → the table entry, its
  *    `<t>` runs concatenated (rich-text `<r>` splits included),
  *    entities decoded; an out-of-range index declines the document
  *    (a corrupt table must not silently drop cells);
  *  - no `t` or `t="n"`: the `<v>` numeric text verbatim (no float
  *    reformatting — what the file says is what ships);
  *  - `t="str"` (formula string results): the `<v>` text, decoded;
  *  - `t="inlineStr"`: the `<is>` block's `<t>` runs, decoded;
  *  - self-closing / value-less cells (styling-only) are skipped —
  *    the protocol's own representation of emptiness;
  *  - any OTHER cell type (t="e" errors, t="b" booleans are a later
  *    tier) declines the document — faithful-or-NULL.
  *
  * Both parts arrive through the census's CRC-gated [[ZipExtract]]
  * (wrong bytes cannot reach the scan). NULL when the archive or its
  * sheet part is absent/corrupt, or when the 65536-string/-cell caps
  * are hit with more content remaining (over-cap declines, never
  * truncates). Shared 1 MiB extract ceiling per part. */
case class XlsxCells(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_xlsx_cells expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(XlsxCells.cellSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_xlsx_cells"

  override def nullSafeEval(input: Any): Any =
    XlsxCells.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.XlsxCells.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): XlsxCells =
    copy(child = newChild)
}

object XlsxCells {

  val cellSchema: StructType = StructType(Seq(
    StructField("ref", StringType),
    StructField("value", StringType)))

  private val MaxStrings = 65536
  private val MaxCells = 65536

  /** True when the tag NAME ends at `at` — the docx delimiter rule. */
  private def delimAt(x: String, at: Int): Boolean =
    at >= x.length || {
      val c = x.charAt(at)
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' || c == '\r'
    }

  /** Concatenated `<t>` run contents inside [from, to), entities
    * decoded — shared by `<si>` entries and `<is>` inline blocks.
    * `<rPh>…</rPh>` phonetic blocks (Excel's East-Asian furigana
    * readings — display metadata, not cell text) are skipped whole;
    * other `<t…`-prefixed tags that aren't a `<t>` run (e.g. a
    * nested `<tabColor…`) are stepped past, not an early return.
    * Null on malformed nesting. */
  private def tRuns(x: String, from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = from
    while (i < to) {
      var lt = x.indexOf("<t", i)
      while (lt >= 0 && lt < to && !delimAt(x, lt + 2)) lt = x.indexOf("<t", lt + 2)
      if (lt < 0 || lt >= to) return sb.toString
      // a phonetic block opening before the next run swallows its
      // <t> children: jump past the whole block
      var rph = x.indexOf("<rPh", i)
      while (rph >= 0 && rph < lt && !delimAt(x, rph + 4)) rph = x.indexOf("<rPh", rph + 4)
      if (rph >= 0 && rph < lt) {
        val close = x.indexOf("</rPh>", rph)
        if (close < 0 || close + 6 > to) return null
        i = close + 6
      } else {
        val gt = x.indexOf('>', lt)
        if (gt < 0 || gt > to) return null
        if (x.charAt(gt - 1) == '/') i = gt + 1
        else {
          val close = x.indexOf("</t>", gt + 1)
          if (close < 0 || close > to) return null
          sb.append(DocxText.decodeEntities(x.substring(gt + 1, close)))
          i = close + 4
        }
      }
    }
    sb.toString
  }

  import ZipExtract.attr

  def parse(zip: Array[Byte]): GenericArrayData = {
    val sheetBytes = ZipExtract.extract(zip, "xl/worksheets/sheet1.xml")
    if (sheetBytes == null) return null
    val sheet = new String(sheetBytes, "UTF-8")
    // the shared string table is optional (a purely numeric sheet has
    // none); when present it must parse
    val sstBytes = ZipExtract.extract(zip, "xl/sharedStrings.xml")
    val shared: Array[String] =
      if (sstBytes == null) new Array[String](0)
      else {
        val x = new String(sstBytes, "UTF-8")
        val out = new scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (out.length < MaxStrings) {
          var si = x.indexOf("<si", i)
          while (si >= 0 && !delimAt(x, si + 3)) si = x.indexOf("<si", si + 3)
          if (si < 0) i = x.length
          else {
            val end = x.indexOf("</si>", si)
            if (end < 0) return null
            val runs = tRuns(x, si, end)
            if (runs == null) return null
            out += runs
            i = end + 5
          }
          if (i >= x.length) return parseSheet(sheet, out.toArray)
        }
        // string cap reached with more entries present: decline (the
        // no-silent-caps posture — a truncated table serves wrong
        // indices as corruption anyway)
        if (x.indexOf("<si", i) >= 0) return null
        out.toArray
      }
    parseSheet(sheet, shared)
  }

  private def parseSheet(x: String, shared: Array[String]): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    var i = 0
    while (out.length < MaxCells) {
      var c = x.indexOf("<c", i)
      while (c >= 0 && !delimAt(x, c + 2)) c = x.indexOf("<c", c + 2)
      if (c < 0) return new GenericArrayData(out.toArray[Any])
      val gt = x.indexOf('>', c)
      if (gt < 0) return null
      val head = x.substring(c, gt)
      val ref = attr(head, "r")
      if (ref == null) return null
      if (x.charAt(gt - 1) == '/') i = gt + 1 // empty (styling-only) cell
      else {
        val end = x.indexOf("</c>", gt)
        if (end < 0) return null
        val t = attr(head, "t")
        val value: String = t match {
          case null | "n" | "s" | "str" =>
            val vOpen = x.indexOf("<v>", gt)
            if (vOpen < 0 || vOpen > end) null // value-less cell: skip
            else {
              val vClose = x.indexOf("</v>", vOpen)
              if (vClose < 0 || vClose > end) return null
              val raw = x.substring(vOpen + 3, vClose)
              if (t == "s") {
                val idx = try raw.trim.toInt catch {
                  case _: NumberFormatException => return null
                }
                // an index past the table is corruption, not emptiness
                if (idx < 0 || idx >= shared.length) return null
                shared(idx)
              } else DocxText.decodeEntities(raw)
            }
          case "inlineStr" =>
            val runs = tRuns(x, gt, end)
            if (runs == null) return null
            runs
          case _ => return null // t="e"/"b"/...: recorded envelope
        }
        if (value != null)
          out += new GenericInternalRow(Array[Any](
            UTF8String.fromString(ref), UTF8String.fromString(value)))
        i = end + 4
      }
    }
    // cell cap reached: decline if more cells remain (never truncate)
    var more = x.indexOf("<c", i)
    while (more >= 0 && !delimAt(x, more + 2)) more = x.indexOf("<c", more + 2)
    if (more >= 0) null else new GenericArrayData(out.toArray[Any])
  }
}

/** `graft_xlsx_encode(seed, n_rows)` → binary: a REAL xlsx written by
  * the JDK's ZipOutputStream with the minimal OPC part set. Per row r
  * (1-based): `A{r}` a SHARED string `Item {seed+r} & <co>` (live
  * entities; even rows split across rich-text `<r>` runs), `B{r}` a
  * numeric cell `(seed+7r)%1000`, and — on r%3==0 rows — `C{r}` an
  * inline string `inline {r}`. The shared string table is written in
  * REVERSE row order, so the `<v>` index hop is load-bearing on every
  * A cell (index = n_rows - r, never the identity). All values are
  * (seed, r) arithmetic for the oracle. */
case class XlsxEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType)
    if (children.length == 2 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_xlsx_encode expects (long seed, int n_rows)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_xlsx_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else XlsxEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): XlsxEncode = copy(children = newChildren)
}

object XlsxEncode {

  /** The (ref, value) list [[XlsxCells]] must produce — the oracle's
    * contract. */
  def decodedCells(seed: Long, nRows: Int): Seq[(String, String)] =
    (1 to nRows).flatMap { r =>
      Seq(s"A$r" -> s"Item ${seed + r} & <co>",
        s"B$r" -> s"${(seed + 7 * r) % 1000}") ++
        (if (r % 3 == 0) Seq(s"C$r" -> s"inline $r") else Seq.empty)
    }

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
      |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
      |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
      |</Types>""".stripMargin

  private val Rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
      |</Relationships>""".stripMargin

  private val Workbook =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/></sheets>
      |</workbook>""".stripMargin

  def encode(seed: Long, nRows: Int): Array[Byte] = {
    if (seed < 0 || nRows < 1 || nRows > 64) return null
    // shared strings in REVERSE row order: A-cell of row r points at
    // index nRows - r
    val sst = new StringBuilder()
    sst.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    sst.append(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="$nRows" uniqueCount="$nRows">""")
    (nRows to 1 by -1).foreach { r =>
      if (r % 2 == 0)
        // rich-text split: two runs, the second xml:space-preserved
        sst.append(s"<si><r><t>Item ${seed + r}</t></r>" +
          "<r><t xml:space=\"preserve\"> &amp; &lt;co&gt;</t></r></si>")
      else
        sst.append(s"<si><t>Item ${seed + r} &amp; &lt;co&gt;</t></si>")
    }
    sst.append("</sst>")
    val sheet = new StringBuilder()
    sheet.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    sheet.append("<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>")
    (1 to nRows).foreach { r =>
      sheet.append(s"""<row r="$r">""")
      sheet.append(s"""<c r="A$r" t="s"><v>${nRows - r}</v></c>""")
      sheet.append(s"""<c r="B$r"><v>${(seed + 7 * r) % 1000}</v></c>""")
      if (r % 3 == 0)
        sheet.append(s"""<c r="C$r" t="inlineStr"><is><t>inline $r</t></is></c>""")
      // a styling-only empty cell the scan must SKIP
      sheet.append(s"""<c r="D$r" s="1"/>""")
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    try {
      Seq("[Content_Types].xml" -> ContentTypes, "_rels/.rels" -> Rels,
        "xl/workbook.xml" -> Workbook,
        "xl/sharedStrings.xml" -> sst.toString,
        "xl/worksheets/sheet1.xml" -> sheet.toString).foreach { case (n, body) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(body.getBytes("UTF-8"))
        z.closeEntry()
      }
    } finally z.close()
    bos.toByteArray
  }
}

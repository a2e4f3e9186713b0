package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OpenDocument Spreadsheet extraction — the ODF sibling of the xlsx
  * cell walk. An .ods holds its grid in `content.xml` as
  * `<table:table>` → `<table:table-row>` → `<table:table-cell>`.
  *
  * `graft_ods_cells(binary)` → `array<struct<row int, col int,
  * value string>>`, the FIRST sheet's populated cells in row-major
  * order (1-based coordinates — ODF has no A1 refs):
  *
  *  - `office:value-type="float"` cells serve the `office:value`
  *    attribute VERBATIM (the typed value, exact by construction —
  *    never a reparse);
  *  - `office:value-type="string"` cells serve `office:string-value`
  *    when present, else their `<text:p>` contents (paragraphs
  *    joined with '\n', entities decoded, inline tags inert);
  *  - value-less cells and `<table:covered-table-cell>` merge
  *    shadows advance the column counter and serve nothing;
  *  - `table:number-columns-repeated` / `table:number-rows-repeated`
  *    expand EXACTLY — repeated valued cells emit each copy,
  *    repeated empty rows/cells just advance the counters (how real
  *    writers compress trailing emptiness);
  *  - any other value-type (date/time/boolean/percentage/currency
  *    are a later tier) DECLINES the document — faithful-or-NULL.
  *
  * The prefix guard applies to all three namespaces the scan keys on
  * (office:, table:, text:) — a document binding any of them to
  * another prefix declines rather than silently serving nothing.
  * NULL when the archive or content.xml is absent/corrupt, or past
  * the 65536-populated-cell cap with more content — over-cap
  * declines, never truncates. 1 MiB extract ceiling. */
case class OdsCells(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_ods_cells expects a binary column, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(OdsCells.cellSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ods_cells"

  override def nullSafeEval(input: Any): Any =
    OdsCells.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => s"""
      ${ev.value} = graft.plans.OdsCells.parse($b);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): OdsCells =
    copy(child = newChild)
}

object OdsCells {

  val cellSchema: StructType = StructType(Seq(
    StructField("row", IntegerType),
    StructField("col", IntegerType),
    StructField("value", StringType)))

  private val MaxCells = 65536
  private val MaxRepeat = 1 << 20
  // per-cell text ceiling (the house office-walk output bound)
  private val MaxOut = 1 << 20

  private val OfficeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  private val TableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  private val TextNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

  private def delimAt(x: String, at: Int): Boolean =
    at >= x.length || {
      val c = x.charAt(at)
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' || c == '\r'
    }

  import ZipExtract.attr

  /** The required-prefix guard: every occurrence of `ns` must be a
    * `xmlns:<prefix>=` binding. */
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

  def parse(zip: Array[Byte]): GenericArrayData = {
    val xmlBytes = ZipExtract.extract(zip, "content.xml")
    if (xmlBytes == null) return null
    val x = new String(xmlBytes, "UTF-8")
    if (!boundTo(x, OfficeNs, "office") || !boundTo(x, TableNs, "table"))
      return null
    // text: only matters when string cells carry <text:p> bodies —
    // but a foreign binding would corrupt those, so guard when present
    if (x.contains(TextNs) && !boundTo(x, TextNs, "text")) return null
    // the FIRST sheet (xlsx-tier parity)
    var tAt = x.indexOf("<table:table")
    while (tAt >= 0 && !delimAt(x, tAt + 12)) tAt = x.indexOf("<table:table", tAt + 12)
    if (tAt < 0) return null
    val tEnd = x.indexOf("</table:table>", tAt)
    if (tEnd < 0) return null
    val out = Vector.newBuilder[Any]
    var cells = 0
    var row = 1
    var at = x.indexOf('>', tAt)
    if (at < 0) return null
    at += 1
    while (at < tEnd) {
      var rOpen = x.indexOf("<table:table-row", at)
      while (rOpen >= 0 && !delimAt(x, rOpen + 16))
        rOpen = x.indexOf("<table:table-row", rOpen + 16)
      if (rOpen < 0 || rOpen >= tEnd) {
        at = tEnd
      } else {
        val rGt = x.indexOf('>', rOpen)
        if (rGt < 0 || rGt > tEnd) return null
        val rowRepeat = attr(x.substring(rOpen, rGt), "table:number-rows-repeated") match {
          case null => 1
          case v =>
            if (v.isEmpty || v.length > 7 || !v.forall(_.isDigit)) return null
            v.toInt
        }
        if (rowRepeat < 1 || rowRepeat > MaxRepeat) return null
        if (x.charAt(rGt - 1) == '/') { // empty repeated row: advance
          row += rowRepeat
          if (row > (1 << 27)) return null // counter bomb
          at = rGt + 1
        } else {
          val rEnd = x.indexOf("</table:table-row>", rGt)
          if (rEnd < 0 || rEnd > tEnd) return null
          // one pass collects the row's populated cells, then they
          // re-emit for each repetition (exact expansion)
          val rowCells = Vector.newBuilder[(Int, String)]
          var rowCellCount = 0
          var col = 1
          var i = rGt + 1
          while (i < rEnd) {
            var cOpen = x.indexOf("<table:", i)
            if (cOpen < 0 || cOpen >= rEnd) i = rEnd
            else {
              val isCell = x.startsWith("<table:table-cell", cOpen) &&
                delimAt(x, cOpen + 17)
              val isCovered = x.startsWith("<table:covered-table-cell", cOpen) &&
                delimAt(x, cOpen + 25)
              if (!isCell && !isCovered) {
                val gt = x.indexOf('>', cOpen)
                if (gt < 0 || gt > rEnd) return null
                i = gt + 1
              } else {
                val gt = x.indexOf('>', cOpen)
                if (gt < 0 || gt > rEnd) return null
                val head = x.substring(cOpen, gt)
                val colRepeat = attr(head, "table:number-columns-repeated") match {
                  case null => 1
                  case v =>
                    if (v.isEmpty || v.length > 7 || !v.forall(_.isDigit)) return null
                    v.toInt
                }
                if (colRepeat < 1 || colRepeat > MaxRepeat) return null
                val selfClosed = x.charAt(gt - 1) == '/'
                val bodyEnd =
                  if (selfClosed) gt + 1
                  else {
                    val closer = if (isCell) "</table:table-cell>"
                      else "</table:covered-table-cell>"
                    val e = x.indexOf(closer, gt)
                    if (e < 0 || e > rEnd) return null
                    e + closer.length
                  }
                val value: String =
                  if (isCovered) null
                  else attr(head, "office:value-type") match {
                    case null => null // value-less: advance only
                    case "float" =>
                      val v = attr(head, "office:value")
                      if (v == null) return null
                      v
                    case "string" =>
                      attr(head, "office:string-value") match {
                        case sv: String => DocxText.decodeEntities(sv)
                        case null =>
                          if (selfClosed) return null
                          val body = x.substring(gt + 1,
                            bodyEnd - "</table:table-cell>".length)
                          val tp = textParas(body)
                          if (tp == null) return null // malformed body
                          tp
                      }
                    case _ => return null // date/bool/...: a later tier
                  }
                if (value != null) {
                  // decline BEFORE expanding: a valued repeat that
                  // cannot fit the cap must never allocate its copies
                  // (a crafted repeated-cell row would otherwise build
                  // millions of tuples before the drain-time check)
                  if (cells + rowCellCount + colRepeat > MaxCells) return null
                  var k = 0
                  while (k < colRepeat) { rowCells += ((col + k, value)); k += 1 }
                  rowCellCount += colRepeat
                }
                col += colRepeat
                i = bodyEnd
              }
            }
          }
          val rc = rowCells.result()
          var rep = 0
          while (rep < rowRepeat) {
            rc.foreach { case (c, v) =>
              cells += 1
              if (cells > MaxCells) return null // over-cap: decline
              out += new GenericInternalRow(Array[Any](
                row + rep, c, UTF8String.fromString(v)))
            }
            rep += 1
          }
          row += rowRepeat
          if (row > (1 << 27)) return null // counter bomb
          at = rEnd + 18
        }
      }
    }
    new GenericArrayData(out.result().toArray[Any])
  }

  /** A string cell's `<text:p>` bodies joined with '\n' — inline
    * tags inert, entities decoded; a cell with no paragraphs is ""
    * (an empty string cell is still a populated cell). NULL on
    * malformed nesting — a partial body must decline the document,
    * never serve as complete cell text. */
  private def textParas(body: String): String = {
    val sb = new java.lang.StringBuilder(32)
    var first = true
    var at = 0
    while (at < body.length) {
      if (sb.length > MaxOut) return null
      var p = body.indexOf("<text:p", at)
      while (p >= 0 && !delimAt(body, p + 7)) p = body.indexOf("<text:p", p + 7)
      if (p < 0) return sb.toString
      val gt = body.indexOf('>', p)
      if (gt < 0) return null
      if (!first) sb.append('\n')
      first = false
      if (body.charAt(gt - 1) == '/') at = gt + 1
      else {
        val end = body.indexOf("</text:p>", gt)
        if (end < 0) return null
        var i = gt + 1
        while (i < end) {
          val lt = body.indexOf('<', i)
          val stop = if (lt < 0 || lt > end) end else lt
          if (stop > i) sb.append(DocxText.decodeEntities(body.substring(i, stop)))
          if (stop >= end) i = end
          else {
            val g = body.indexOf('>', lt)
            if (g < 0) return null
            i = g + 1
          }
        }
        at = end + 9
      }
    }
    sb.toString
  }
}

/** `graft_ods_encode(seed, n_rows)` → binary: a REAL ods written by
  * the JDK's ZipOutputStream (stored mimetype first, manifest,
  * content.xml). Row r (1-based) carries a float cell at A (the
  * office:value attribute verbatim), an EMPTY repeated gap
  * (number-columns-repeated="2") on (seed+r)%3==0 rows shifting B's
  * position, a string cell with live entities (string-value attr on
  * even rows, a <text:p> body on odd), and a REPEATED string cell
  * (columns-repeated="2") on (seed+r)%4==0 rows — all (seed, r)
  * arithmetic for the oracle ([[OdsEncode.decodedCells]]). */
case class OdsEncode(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(LongType, IntegerType)
    if (children.length == 2 && children.map(_.dataType) == expected)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_ods_encode expects (long seed, int n_rows)")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ods_encode"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else OdsEncode.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OdsEncode =
    copy(children = newChildren)
}

object OdsEncode {

  /** What [[OdsCells]] must serve for row r (1-based) — the oracle's
    * contract: (col, value) pairs in column order. */
  def decodedRow(seed: Long, r: Int): Seq[(Int, String)] = {
    val a = (1, s"${(seed + 31 * r) % 1000}.${(seed + r) % 10}")
    val bCol = if ((seed + r) % 3 == 0) 4 else 2
    val bVal = s"Row $r of doc $seed & <ods>"
    val b = Seq((bCol, bVal))
    val rep =
      if ((seed + r) % 4 == 0) Seq((bCol + 1, s"rep $r"), (bCol + 2, s"rep $r"))
      else Seq.empty
    Seq(a) ++ b ++ rep
  }

  def encode(seed: Long, nRows: Int): Array[Byte] = {
    if (seed < 0 || nRows < 1 || nRows > 64) return null
    val officeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    val tableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
    val textNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    val sb = new StringBuilder()
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append(s"""<office:document-content xmlns:office="$officeNs" """ +
      s"""xmlns:table="$tableNs" xmlns:text="$textNs">""")
    sb.append("<office:body><office:spreadsheet>")
    sb.append("""<table:table table:name="Sheet1">""")
    sb.append("""<table:table-column table:number-columns-repeated="6"/>""")
    var r = 1
    while (r <= nRows) {
      sb.append("<table:table-row>")
      sb.append(s"""<table:table-cell office:value-type="float" """ +
        s"""office:value="${(seed + 31 * r) % 1000}.${(seed + r) % 10}"/>""")
      if ((seed + r) % 3 == 0)
        sb.append("""<table:table-cell table:number-columns-repeated="2"/>""")
      val bVal = s"Row $r of doc $seed &amp; &lt;ods&gt;"
      if (r % 2 == 0)
        sb.append(s"""<table:table-cell office:value-type="string" """ +
          s"""office:string-value="$bVal"/>""")
      else
        sb.append(s"""<table:table-cell office:value-type="string">""" +
          s"<text:p>$bVal</text:p></table:table-cell>")
      if ((seed + r) % 4 == 0)
        sb.append(s"""<table:table-cell office:value-type="string" """ +
          s"""table:number-columns-repeated="2">""" +
          s"<text:p>rep $r</text:p></table:table-cell>")
      sb.append("</table:table-row>")
      r += 1
    }
    sb.append("</table:table></office:spreadsheet></office:body>" +
      "</office:document-content>")
    val content = sb.toString.getBytes("UTF-8")

    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    try {
      val mt = "application/vnd.oasis.opendocument.spreadsheet".getBytes("US-ASCII")
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
        "\"application/vnd.oasis.opendocument.spreadsheet\"/></manifest:manifest>")
        .getBytes("UTF-8"))
      z.closeEntry()
      z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
      z.write(content)
      z.closeEntry()
    } finally z.close()
    bos.toByteArray
  }
}
